"""Round-14 additions: trained-artifact promotion, the rerank-budget
sweep, and the quality classifier (NB + logistic-superstep refinement)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from jp_qcew_spark.plans import inspect as I


class TestTrainedArtifactPromotion:
    def test_builds_once_and_reproduces(self, spark, tmp_path):
        from jp_qcew_spark.io import (
            reset_trained_artifacts,
            trained_artifact,
        )

        reset_trained_artifacts()
        calls = []

        def build():
            calls.append(1)
            return spark.range(5).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )

        a = trained_artifact(spark, str(tmp_path), "t", build)
        b = trained_artifact(spark, str(tmp_path), "t", build)
        assert len(calls) == 1  # second call served from the memo
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
        # promoted frames are LocalRelations: no file scan in the plan
        assert "Scan parquet" not in I.formatted_plan(b)
        reset_trained_artifacts()
        trained_artifact(spark, str(tmp_path), "t", build)
        assert len(calls) == 2  # reset really drops the memo

    def test_row_cap_guards_corpus_sized_frames(self, spark, tmp_path):
        from jp_qcew_spark.io import (
            _TRAINED_ROW_CAP,
            reset_trained_artifacts,
            trained_artifact,
        )

        reset_trained_artifacts()
        with pytest.raises(ValueError, match="bounded artifacts only"):
            trained_artifact(
                spark,
                str(tmp_path),
                "big",
                lambda: spark.range(_TRAINED_ROW_CAP + 1),
            )

    def test_keys_are_scale_scoped(self, spark, tmp_path):
        from jp_qcew_spark.io import (
            reset_trained_artifacts,
            trained_artifact,
        )

        reset_trained_artifacts()
        a = trained_artifact(
            spark, str(tmp_path / "a"), "t", lambda: spark.range(1)
        )
        b = trained_artifact(
            spark, str(tmp_path / "b"), "t", lambda: spark.range(2)
        )
        assert a.count() == 1 and b.count() == 2


def test_neardup_band_width_guard(spark, sf_dir):
    """ADVICE r13: lpad(hex(band_idx), 4) TRUNCATES past 0xFFFF bands,
    silently colliding distinct band identities into one state key — the
    guard must fail loudly BEFORE any stream starts."""
    from jp_qcew_spark.streaming.pipelines import stream_dedup_neardup

    with pytest.raises(ValueError, match="packed band-index budget"):
        stream_dedup_neardup(
            spark, sf_dir, num_hashes=131072, rows_per_band=1
        )


def test_rerank_sweep_flat_recall_and_costs(spark, sf_dir):
    """knn_ivfpq_rerank_sweep: one row per swept R; recall@3 in range and
    NONDECREASING in R (exact re-ranking of a shortlist SUPERSET can
    swap a truth hit only for another truth hit — any candidate that
    displaces a global-top-3 member is globally closer, hence itself a
    member); ``reranked`` strictly increasing and per-query bounded by
    R (the refine join's traffic is queries×R, never corpus-sized)."""
    from jp_qcew_spark.queries.similarity import (
        _N_QUERIES,
        _PQ_RERANK_SWEEP_RS,
        q_knn_ivfpq_rerank_sweep,
    )

    df = q_knn_ivfpq_rerank_sweep(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    # 9 hint sites, every one bounded: the 5 ivfpq serving sites + the
    # queries×R refine side, the query-vector slice, the 3-row R table,
    # the 1-row exact-total scalar — a NEW hint on a corpus-sized side
    # moves this count
    assert I.broadcast_hint_sites(df) == 9
    assert all(
        set(s) <= {"vec_id", "label", "embedding"} for s in I.read_schemas(df)
    )
    rows = df.orderBy("r").collect()
    assert [r["r"] for r in rows] == list(_PQ_RERANK_SWEEP_RS)
    recalls = [r["recall_at3"] for r in rows]
    costs = [r["reranked"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in recalls)
    assert recalls == sorted(recalls)
    assert costs == sorted(costs) and len(set(costs)) == len(costs)
    for r in rows:
        assert r["reranked"] <= r["r"] * _N_QUERIES


def test_keep_best_policy(spark, sf_dir):
    """dedup_keep_best: every doc gets exactly one verdict; each
    multi-member component keeps EXACTLY one member and it is a
    quality-maximal one (ties to the smaller doc_id); singletons carry
    their own id as the component label; no cartesian product."""
    from collections import defaultdict

    from jp_qcew_spark.queries.dedup import q_dedup_keep_best

    df = q_dedup_keep_best(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    rows = df.collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    comps = defaultdict(list)
    for r in rows:
        if r["action"] == "singleton":
            assert r["comp"] == r["doc_id"]
        else:
            comps[r["comp"]].append(r)
    for comp, members in comps.items():
        kept = [r for r in members if r["action"] == "kept_best"]
        assert len(kept) == 1 and len(members) >= 2
        qmax = max(
            (r["quality"] for r in members if r["quality"] is not None),
            default=None,
        )
        assert kept[0]["quality"] == qmax
        best_ids = [
            r["doc_id"] for r in members if r["quality"] == qmax
        ]
        assert kept[0]["doc_id"] == min(best_ids)


class TestQualityClassifier:
    def test_train_model_shape(self, spark, sf_dir):
        from jp_qcew_spark.queries.curation import (
            _QC_D,
            q_quality_classifier_train,
        )

        rows = q_quality_classifier_train(spark, sf_dir).collect()
        assert [r["feature_id"] for r in rows] == list(range(-1, _QC_D))
        # quantized log-odds stay in a sane band (|ln ratio| << 50)
        assert all(abs(r["weight_micro"]) < 50_000_000 for r in rows)

    def test_apply_decision_consistency(self, spark, sf_dir):
        from jp_qcew_spark.io import load_table
        from jp_qcew_spark.queries.curation import (
            q_quality_classifier_apply,
        )

        rows = q_quality_classifier_apply(spark, sf_dir).collect()
        n_docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.trim("text") != "")
            .count()
        )
        assert len(rows) == n_docs
        for r in rows:
            assert r["keep"] == (1 if r["margin_micro"] >= 0 else 0)
            assert r["teacher_label"] in (0, 1)

    def test_classifier_actually_learns(self, spark, sf_dir):
        """The point of the tier: the distilled classifier must beat the
        base rate by a wide margin (measured 0.85-0.93 across scales;
        pin a conservative floor), and the eval must price BOTH
        variants with the shipped one listed."""
        from jp_qcew_spark.queries.curation import (
            q_quality_classifier_gd_eval,
        )

        rows = (
            q_quality_classifier_gd_eval(spark, sf_dir)
            .orderBy("variant")
            .collect()
        )
        assert [r["variant"] for r in rows] == ["nb", "nb_gd3"]
        for r in rows:
            assert 0.75 <= r["train_accuracy"] <= 1.0
            assert 0.0 < r["kept_frac"] < 1.0

    def test_apply_plan_broadcast_scoring(self, spark, sf_dir):
        """Scoring is the 100 TB shape: promoted weights broadcast into
        one keyed reduce — no cartesian, scans pruned to (doc_id, text),
        partial aggregation present."""
        from jp_qcew_spark.queries.curation import (
            q_quality_classifier_apply,
        )

        df = q_quality_classifier_apply(spark, sf_dir)
        assert not I.has_cartesian_product(df)
        # exactly ONE hint site: the promoted 257-row model — scoring
        # never broadcasts (or shuffles) anything corpus-sized
        assert I.broadcast_hint_sites(df) == 1
        assert I.has_partial_aggregation(df)
        assert all(
            set(s) <= {"doc_id", "text"} for s in I.read_schemas(df)
        )

    def test_shipped_model_is_gd_refined(self, spark, sf_dir):
        """quality_classifier_train must serve the SAME weights the GD
        builder produces (the adjudicated nb_gd3 config), not the NB
        init — a drift here means train/apply ship different models."""
        from jp_qcew_spark.queries.curation import (
            _qc_nb_weights_t,
            _qc_weights_t,
            q_quality_classifier_train,
        )

        served = {
            r["feature_id"]: r["weight_micro"]
            for r in q_quality_classifier_train(spark, sf_dir).collect()
        }
        gd = {
            r["feature_id"]: r["weight_micro"]
            for r in _qc_weights_t(spark, sf_dir).collect()
        }
        nb = {
            r["feature_id"]: r["weight_micro"]
            for r in _qc_nb_weights_t(spark, sf_dir).collect()
        }
        assert served == gd
        assert served != nb  # the refinement really moved the weights
