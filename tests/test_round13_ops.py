"""Round-13 additions: the by_residual pricing eval, the SNM plant-
offset guard, and the packed neardup state representation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from jp_qcew_spark.plans import inspect as I


def test_pq_residual_eval_values_and_shape(spark, sf_dir):
    """knn_pq_residual_eval: one row per variant; recall in [0, 1];
    reconstruction distortion positive; the coarse ratio is a genuine
    fraction, IDENTICAL across rows (it is a property of the coarse
    quantizer, not the codebook variant); and the residual variant's
    distortion is AT MOST the raw variant's — the variance the cells
    remove can only help reconstruction; the eval's point is that on
    this corpus the help is too small to move recall."""
    from jp_qcew_spark.queries.similarity import (
        _PQ_RESIDUAL_VARIANTS,
        q_knn_pq_residual_eval,
    )

    rows = (
        q_knn_pq_residual_eval(spark, sf_dir).orderBy("variant").collect()
    )
    assert [r["variant"] for r in rows] == sorted(_PQ_RESIDUAL_VARIANTS)
    by = {r["variant"]: r for r in rows}
    for r in rows:
        assert 0.0 <= r["recall_at3"] <= 1.0
        assert r["mean_recon_d2"] > 0.0
        assert 0.0 < r["coarse_rss_ratio"] < 1.0
    assert (
        by["raw"]["coarse_rss_ratio"] == by["residual"]["coarse_rss_ratio"]
    )
    assert by["residual"]["mean_recon_d2"] <= by["raw"]["mean_recon_d2"]


def test_pq_residual_eval_plan(spark, sf_dir):
    """Plan pins for the eval: no cartesian product, partial aggregation
    present, scans pruned to the embedding columns — the same posture
    the standalone PQ tiers pin."""
    from jp_qcew_spark.queries.similarity import q_knn_pq_residual_eval

    df = q_knn_pq_residual_eval(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    assert all(
        set(s) <= {"vec_id", "label", "embedding"} for s in I.read_schemas(df)
    )


def test_pq_opq_eval_self_check_and_plan(spark, sf_dir):
    """knn_pq_opq_eval: the BALANCED row is the served assignment, so
    its recall must reproduce knn_pq_adc's exactly (same map, same
    codebook training, same full-scan ADC — a drift here means the eval
    no longer prices what the tier serves); one row per assignment,
    recall in [0, 1], distortion positive; no cartesian product."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.queries.similarity import (
        _PQ_OPQ_VARIANTS,
        q_knn_pq_adc,
        q_knn_pq_opq_eval,
    )

    rows = q_knn_pq_opq_eval(spark, sf_dir).orderBy("assignment").collect()
    assert [r["assignment"] for r in rows] == sorted(_PQ_OPQ_VARIANTS)
    for r in rows:
        assert 0.0 <= r["recall_at3"] <= 1.0
        assert r["mean_recon_d2"] > 0.0

    adc = q_knn_pq_adc(spark, sf_dir).select("query_id", "neighbor_id")
    vecs_n = adc.sparkSession.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    ).count()
    assert vecs_n > 0  # sanity: corpus present
    # recompute knn_pq_adc's recall under the eval's own truth
    # convention and compare to the balanced row
    from pyspark.sql import Window

    from jp_qcew_spark.ext import similarity as S
    from jp_qcew_spark.queries.similarity import _N_QUERIES, _vecs

    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    q = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    exact3 = (
        F.broadcast(q)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.l2sq(F.col("qv"), F.col("v")), 6).alias("d2"),
        )
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id")
    )
    hits = adc.join(exact3, ["query_id", "neighbor_id"]).count()
    total = exact3.count()
    balanced = [r for r in rows if r["assignment"] == "balanced"][0]
    assert balanced["recall_at3"] == round(hits / total, 6)

    df = q_knn_pq_opq_eval(spark, sf_dir)
    from jp_qcew_spark.plans import inspect as I2

    assert not I2.has_cartesian_product(df)


def test_ivfpq_curve_monotone_and_plan(spark, sf_dir):
    """knn_ivfpq_recall_curve: one row per nprobe; scan fraction
    strictly increasing (a wider probe set scans strictly more cells —
    every query has max(_IVF_CURVE_NPROBES) ≤ _IVF_K ranked cells);
    recall nondecreasing (candidate supersets); both in range; no
    cartesian product; scans pruned to the embedding columns."""
    from jp_qcew_spark.queries.similarity import (
        _IVF_CURVE_NPROBES,
        q_knn_ivfpq_recall_curve,
    )

    df = q_knn_ivfpq_recall_curve(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert all(
        set(s) <= {"vec_id", "label", "embedding"} for s in I.read_schemas(df)
    )
    rows = df.orderBy("nprobe").collect()
    assert [r["nprobe"] for r in rows] == list(_IVF_CURVE_NPROBES)
    recalls = [r["recall_at3"] for r in rows]
    fracs = [r["scan_frac"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in recalls)
    assert recalls == sorted(recalls)
    assert fracs == sorted(fracs) and len(set(fracs)) == len(fracs)
    assert all(0.0 < f < 1.0 for f in fracs)


def test_ivfpq_rerank_refines_not_regresses(spark, sf_dir):
    """knn_ivfpq_rerank: the refined top-3 is drawn FROM the ADC
    shortlist (every returned neighbor is an ivfpq-reachable candidate:
    same cell as the query), d2 is the exact squared-L2 (nonnegative,
    ranked ascending per query with rank 1..3), and the refined set's
    exact-truth hit count is >= the unrefined knn_ivfpq top-3's — the
    refine stage can only fix mis-rankings inside the candidate set,
    never lose a hit (both cut top-3 from the same candidates; exact d2
    ranking is what the truth uses)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext import similarity as S
    from jp_qcew_spark.queries.similarity import (
        _N_QUERIES,
        _vecs,
        q_knn_ivfpq,
        q_knn_ivfpq_rerank,
    )

    got = q_knn_ivfpq_rerank(spark, sf_dir)
    assert not I.has_cartesian_product(got)
    rows = got.collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        assert r["d2"] >= 0.0
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["d2"]))
    for ranks in by_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        d2s = [d for _, d in ranks]
        assert d2s == sorted(d2s)

    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    qv = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    exact3 = (
        F.broadcast(qv)
        .join(vecs, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.l2sq(F.col("qv"), F.col("v")), 6).alias("d2"),
        )
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id")
    )
    refined_hits = (
        got.select("query_id", "neighbor_id")
        .join(exact3, ["query_id", "neighbor_id"])
        .count()
    )
    plain_hits = (
        q_knn_ivfpq(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .join(exact3, ["query_id", "neighbor_id"])
        .count()
    )
    assert refined_hits >= plain_hits


def test_snm_plant_offset_guard():
    """The planted-twin id space must fail LOUDLY when the corpus could
    alias it (ADVICE r12): both engines would agree on the corrupted
    recall, so no hash gate catches a silent alias."""
    from unittest import mock

    from jp_qcew_spark.queries import dedup as D

    with mock.patch.object(
        D, "metadata_row_count", return_value=D._SNM_PLANT_OFFSET
    ):
        with pytest.raises(ValueError, match="alias real doc_ids"):
            D.q_dedup_snm_recall_eval(None, "unused")


def test_neardup_state_identity_is_packed_binary(spark, sf_dir):
    """The neardup wire's band identity is the 18-byte packed binary
    (2-byte band index + 16 md5 bytes), LOSSLESSLY equivalent to the
    r11 'idx:md5hex' string — same prior/keeper decisions, half the
    value-typed-state rewrite bytes. Pin the packing round-trip against
    the string form on real corpus signatures."""
    import os

    from jp_qcew_spark.ext import dedup as D

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .limit(50)
    )
    both = (
        docs.select(
            F.posexplode(D.minhash_band_keys(F.col("text"), 12, 4)).alias(
                "band_idx", "band_key"
            )
        )
        .select(
            F.concat_ws(":", F.col("band_idx"), F.col("band_key")).alias(
                "s"
            ),
            F.unhex(
                F.concat_ws(
                    "",
                    F.lpad(F.hex(F.col("band_idx")), 4, "0"),
                    F.col("band_key"),
                )
            ).alias("b"),
        )
        .collect()
    )
    assert both, "corpus produced no band keys"
    for r in both:
        assert len(r["b"]) == 18
        idx, hexpart = r["s"].split(":", 1)
        assert r["b"] == bytes.fromhex(f"{int(idx):04x}") + bytes.fromhex(
            hexpart
        )


def test_pq_eval_threaded_variants_deterministic(spark, sf_dir):
    """Round 15: the residual/opq evals materialize their two variants on
    concurrent driver threads (guide §2.6 job overlap). Overlap must
    change wall clock only — two builds, with the trained-artifact memo
    reset in between (so one build is fully cold under concurrency),
    must produce identical rows."""
    from jp_qcew_spark.io import release_caches, reset_trained_artifacts
    from jp_qcew_spark.queries.similarity import q_knn_pq_opq_eval

    first = sorted(
        map(tuple, q_knn_pq_opq_eval(spark, sf_dir).collect())
    )
    release_caches()
    reset_trained_artifacts()
    second = sorted(
        map(tuple, q_knn_pq_opq_eval(spark, sf_dir).collect())
    )
    release_caches()
    assert first == second
    # the threads' checkpoints landed in this thread's scope and are gone
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
