"""Round-11 pins: the threshold-aware cost sweep (VERDICT r10 #4), the
footer-metadata config scalar (#6), and the ADVICE-r10 guards (planted-id
collision, half-up quantization tie rule, graph rail message, band-key
divisibility)."""

from __future__ import annotations

import math

import pytest


def test_rp_cfg_sweep_sql_parity():
    """The oracle's SQL sweep (the EXACT text the targeted CTEs embed,
    via _rp_cfg_sweep_sql) derives the same (bands, bits) as the Python
    cfg across corpus sizes spanning the floor-optimal, swept-optimal,
    and budget-bound regimes."""
    import duckdb

    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg_rp_target,
        _rp_cfg_sweep_sql,
    )

    ns = [60, 100, 700, 1100, 3100, 6100, 30100, 61100, 90100, 610100]
    ns += [137, 999, 4097, 65537, 250_000, 1_500_000, 3_000_000]
    for n in ns:
        py = _lsh_cfg_rp_target(n)
        sq = duckdb.sql(_rp_cfg_sweep_sql(f"range(0, {n})")).fetchone()
        assert (py[0], py[1]) == (sq[0], sq[1]), (n, py, sq)


def test_qgrid_half_up_tie_rule():
    """_qgrid uses floor(x*s+0.5)/s — HALF-UP, matching the SQL twin —
    not Python round()'s banker's rule (ADVICE r10: the two engines'
    native round() tie directions differ)."""
    import duckdb

    from jp_qcew_spark.queries.similarity import _qgrid

    # exact midpoints: banker's would round 0.5/1e6 DOWN to 0, 1.5/1e6
    # DOWN... no — to 2; half-up takes both UP
    assert _qgrid(0.0000005, 1e6) == pytest.approx(1e-6)
    assert _qgrid(0.0000015, 1e6) == pytest.approx(2e-6)
    # Python round() disagrees on the first (banker's: 0.0)
    assert round(0.0000005, 6) == 0.0
    # and the SQL form is the same expression, value for value
    vals = [0.0000005, 0.0000015, 0.1234567, 0.795**12, 0.999999]
    for v in vals:
        sq = duckdb.sql(
            f"SELECT floor({v!r} * 1e6 + 0.5) / 1e6"
        ).fetchone()[0]
        assert _qgrid(v, 1e6) == sq, v


def test_aug_vecs_collision_guard(spark, sf_dir, monkeypatch):
    """A corpus whose vec_ids reach the planted-cohort offsets must
    refuse to build the certification fixture (ADVICE r10: duplicate
    vec_ids would corrupt the scoring joins identically on both engines
    — invisible to the driver's hash compare)."""
    from jp_qcew_spark.queries import similarity as sim

    monkeypatch.setattr(
        sim, "metadata_row_count", lambda *a, **k: 1_000_000
    )
    with pytest.raises(ValueError, match="collide"):
        sim._aug_vecs(spark, sf_dir)


def test_metadata_row_count_matches_spark(spark):
    """The footer-metadata count equals the Spark count on every oracle
    table at two scales — the fast path the config derivations now use
    (VERDICT r10 #6) is exact, not an estimate."""
    from jp_qcew_spark.io import load_table, metadata_row_count

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in ("embeddings", "documents", "lineitem"):
            assert metadata_row_count(spark, sf_dir, name) == load_table(
                spark, sf_dir, name
            ).count(), (sf_dir, name)
    with pytest.raises(ValueError, match="unknown table"):
        metadata_row_count(spark, "/root/testdata/sf0.01", "nope")


def test_targeted_tier_builds_without_count_job(spark, sf_dir, monkeypatch):
    """Building the targeted queries launches ZERO pre-query jobs: the
    config scalar comes from parquet footers, so DataFrame.count is
    never called during plan construction (VERDICT r10 #6 'pin it')."""
    # patch the CLASSIC implementation class: pyspark 4's base
    # pyspark.sql.DataFrame.count is overridden there, so a base-class
    # patch never intercepts (found vacuous in round 13)
    from pyspark.sql.classic.dataframe import DataFrame

    from jp_qcew_spark.queries.similarity import (
        q_dedup_embedding_rp_target,
        q_dedup_recall_target_eval,
    )

    def _boom(self):
        raise AssertionError(
            "DataFrame.count() ran during query build — the config "
            "scalar must come from parquet footer metadata"
        )

    monkeypatch.setattr(DataFrame, "count", _boom)
    df1 = q_dedup_embedding_rp_target(spark, sf_dir)
    df2 = q_dedup_recall_target_eval(spark, sf_dir)
    assert df1.columns and df2.columns


def test_cc_rail_message_names_pinned_limit(spark):
    """A caller-pinned max_iter failure reports the PINNED budget, not
    the derived-rail formula (ADVICE r10)."""
    from jp_qcew_spark.ext.graph import connected_components
    from jp_qcew_spark.io import release_caches

    # a 9-node chain needs ~4 alternating-star rounds; max_iter=1 trips
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="caller-pinned max_iter=1"):
        connected_components(edges, max_iter=1)
    release_caches()
    # the derived-rail path keeps its formula message (unchanged)
    got = connected_components(edges).collect()
    assert {(r["id"], r["comp"]) for r in got} == {
        (i, 0) for i in range(9)
    }
    release_caches()


def test_minhash_band_keys_rejects_ragged_config():
    """num_hashes not divisible by rows_per_band fails loudly instead of
    silently shrinking the band-key space (ADVICE r10)."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext.dedup import minhash_band_keys

    with pytest.raises(ValueError, match="multiple of"):
        minhash_band_keys(F.col("text"), num_hashes=13, rows_per_band=4)


# --------------------------------------------------------------------------
# The text MinHash recall contract (VERDICT r10 #1)
# --------------------------------------------------------------------------


def test_mh_cfg_sql_parity():
    """The oracle's (bands, rpb) derivation (the EXACT text the targeted
    CTEs embed, via _mh_cfg_sql) matches the Python cfg across corpus
    sizes from tiny to 1.5e9 documents."""
    import duckdb

    from jp_qcew_spark.queries.dedup import (
        _lsh_cfg_minhash_target,
        _mh_cfg_sql,
    )

    for n in (10, 60, 500, 700, 5000, 5318, 50_000, 90_000,
              1_000_000, 100_000_000, 1_500_000_000):
        py = _lsh_cfg_minhash_target(n)
        sq = duckdb.sql(
            "SELECT bands, rpb FROM (" + _mh_cfg_sql(f"range(0, {n})") + ")"
        ).fetchone()
        assert (py[0], py[1]) == (sq[0], sq[1]), (n, py, sq)


def test_mh_cfg_contract_math():
    """The derived config satisfies the recall floor minimally at the
    derived rpb, across a (threshold, recall) grid — the contract is a
    parameter, not the 12/3/4 constants."""
    import math

    from jp_qcew_spark.queries.dedup import _lsh_cfg_minhash_target
    from jp_qcew_spark.queries.similarity import _qgrid

    for thr in (0.6, 0.7, 0.8, 0.9):
        for rec in (0.8, 0.9, 0.95):
            b, r = _lsh_cfg_minhash_target(5000, thr, rec)
            q = _qgrid(thr**r, 1e12)
            assert 1.0 - (1.0 - q) ** b >= rec
            assert 1.0 - (1.0 - q) ** (b - 1) < rec
    # higher recall floor -> more bands at the same threshold
    assert (
        _lsh_cfg_minhash_target(5000, 0.8, 0.95)[0]
        > _lsh_cfg_minhash_target(5000, 0.8, 0.9)[0]
    )
    # the budget raises loudly (oracle would truncate signatures)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash functions"):
        _lsh_cfg_minhash_target(10**12)
    with _pytest.raises(ValueError, match="strictly inside"):
        _lsh_cfg_minhash_target(5000, 1.0, 0.9)


def test_aug_docs_fixture(spark, sf_dir):
    """The planted text fixture: |aug| = n + 2*|plantable|; appended
    copies sit at Jaccard >= 0.9, prefix copies inside [0.8, 0.97] —
    the >=0.8 bin has real members on both sides of the threshold
    neighborhood."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext import dedup as D
    from jp_qcew_spark.functions.text import tokens
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.dedup import (
        _DOC_PLANT_MAX,
        _DOC_PLANT_OFFS,
        _DOC_PLANT_TOKENS,
        _aug_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_plant = docs.filter(
        (F.col("doc_id") < _DOC_PLANT_MAX)
        & (F.size(tokens(F.col("text"))) >= _DOC_PLANT_TOKENS)
    ).count()
    aug = _aug_docs(spark, sf_dir)
    assert aug.count() == n + 2 * n_plant
    sh = aug.select(
        "doc_id",
        D.shingles_from_tokens(tokens(F.col("text"))).alias("s"),
    )
    base = sh.filter(F.col("doc_id") < _DOC_PLANT_MAX).select(
        "doc_id", F.col("s").alias("so")
    )
    for off, lo, hi in (
        (_DOC_PLANT_OFFS[0], 0.9, 1.0),
        (_DOC_PLANT_OFFS[1], 0.8, 0.97),
    ):
        planted = sh.filter(
            (F.col("doc_id") >= off)
            & (F.col("doc_id") < off + _DOC_PLANT_MAX)
        ).select((F.col("doc_id") - off).alias("doc_id"), "s")
        got = (
            base.join(planted, "doc_id")
            .select(D.jaccard(F.col("so"), F.col("s")).alias("j"))
            .agg(F.min("j").alias("lo"), F.max("j").alias("hi"))
            .collect()[0]
        )
        assert got["lo"] >= lo and got["hi"] <= hi, (off, got)


def test_mh_target_recall_contract(spark, sf_dir):
    """THE round-11 contract: recall in the >=0.8-Jaccard bin clears the
    0.9 floor, and both derived scalars ride the output."""
    from jp_qcew_spark.io import metadata_row_count
    from jp_qcew_spark.queries.dedup import (
        _lsh_cfg_minhash_target,
        q_dedup_minhash_recall_eval,
    )

    rows = {
        r["sim_band"]: r
        for r in q_dedup_minhash_recall_eval(spark, sf_dir).collect()
    }
    hi = rows["0.80+"]
    assert hi["n_true"] >= 100  # the planted cohorts are in the bin
    assert hi["recall_hit"] >= 0.9, hi
    bands, rpb = _lsh_cfg_minhash_target(
        metadata_row_count(spark, sf_dir, "documents")
    )
    assert hi["bands_used"] == bands and hi["rpb_used"] == rpb


def test_mh_target_recall_contract_sf01(spark):
    """The pinned certification scale for the text tier (the
    test_recall_target_contract_sf01 convention): >=0.9 recall in the
    >=0.8 bin at sf0.1."""
    from jp_qcew_spark.queries.dedup import q_dedup_minhash_recall_eval

    rows = {
        r["sim_band"]: r
        for r in q_dedup_minhash_recall_eval(
            spark, "/root/testdata/sf0.1"
        ).collect()
    }
    assert rows["0.80+"]["recall_hit"] >= 0.9, rows["0.80+"]


def test_mh_target_plans(spark, sf_dir):
    """Plan pins for the targeted text tier: the generator keeps the
    dedup family's no-corpus-broadcast rule (zero hints, no cartesian,
    no Python in the plan); the eval carries exactly ONE hint — the
    bounded truth slice."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.dedup import (
        q_dedup_minhash_recall_eval,
        q_dedup_minhash_target,
    )

    df = q_dedup_minhash_target(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ev = q_dedup_minhash_recall_eval(spark, sf_dir)
    assert not I.has_cartesian_product(ev)
    assert I.broadcast_hint_count(ev) == 1
    evplan = I.formatted_plan(ev)
    assert "BatchEvalPython" not in evplan


def test_aug_docs_collision_guard(spark, sf_dir, monkeypatch):
    """A corpus whose doc_ids reach the planted offsets must refuse to
    build the text fixture (the _aug_vecs guard on the text tier)."""
    import pytest as _pytest

    from jp_qcew_spark.queries import dedup as dd

    monkeypatch.setattr(
        "jp_qcew_spark.io.metadata_row_count",
        lambda *a, **k: 1_000_000,
    )
    with _pytest.raises(ValueError, match="collide"):
        dd._aug_docs(spark, sf_dir)


# --------------------------------------------------------------------------
# Property sweeps: the contracts hold over the whole parameter space, and
# the SQL twins agree with Python at arbitrary corpus sizes
# --------------------------------------------------------------------------


def test_rp_cfg_property_sweep():
    """Hypothesis sweep over (n, threshold, recall): every derived RP
    config satisfies the recall floor minimally at its chosen width,
    respects the plane budget, and never sits below the occupancy
    floor — or raises the documented budget error."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jp_qcew_spark.queries.similarity import (
        _RP_TGT_PLANES,
        _lsh_cfg_rp_target,
        _qgrid,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**7),
        thr=st.floats(min_value=0.3, max_value=0.97),
        rec=st.floats(min_value=0.5, max_value=0.99),
    )
    def check(n, thr, rec):
        try:
            b, r = _lsh_cfg_rp_target(n, thr, rec)
        except ValueError as e:
            assert "planes" in str(e) or "admissible" in str(e)
            return
        assert r >= max(4, math.ceil(math.log2(max(n, 1) / 16.0)))
        assert b * r <= _RP_TGT_PLANES
        p = 1.0 - math.acos(thr) / math.pi
        q = _qgrid(p**r, 1e12)
        assert 1.0 - (1.0 - q) ** b >= rec
        assert 1.0 - (1.0 - q) ** (b - 1) < rec

    check()


def test_mh_cfg_property_sweep():
    """The same sweep for the text tier: derived (bands, rpb) satisfies
    the floor minimally, respects the hash budget, rpb never below 2."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jp_qcew_spark.queries.dedup import (
        _MH_TGT_HASHES,
        _lsh_cfg_minhash_target,
    )
    from jp_qcew_spark.queries.similarity import _qgrid

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**9),
        thr=st.floats(min_value=0.3, max_value=0.97),
        rec=st.floats(min_value=0.5, max_value=0.99),
    )
    def check(n, thr, rec):
        try:
            b, r = _lsh_cfg_minhash_target(n, thr, rec)
        except ValueError as e:
            assert "hash functions" in str(e) or "degenerate" in str(e)
            return
        assert r >= 2
        assert b * r <= _MH_TGT_HASHES
        q = _qgrid(thr**r, 1e12)
        assert 1.0 - (1.0 - q) ** b >= rec
        assert 1.0 - (1.0 - q) ** (b - 1) < rec

    check()


def test_cfg_sql_parity_random_n():
    """SQL/Python cfg parity at RANDOM corpus sizes (both tiers) — the
    fixed-list parity tests plus a seeded fuzz band, so a grid-midpoint
    divergence can't hide between the handpicked sizes."""
    import random

    import duckdb

    from jp_qcew_spark.queries.dedup import (
        _lsh_cfg_minhash_target,
        _mh_cfg_sql,
    )
    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg_rp_target,
        _rp_cfg_sweep_sql,
    )

    rng = random.Random(1107)
    for _ in range(40):
        n = rng.randint(20, 3_000_000)
        py = _lsh_cfg_rp_target(n)
        sq = duckdb.sql(_rp_cfg_sweep_sql(f"range(0, {n})")).fetchone()
        assert (py[0], py[1]) == (sq[0], sq[1]), ("rp", n, py, sq)
    for _ in range(40):
        n = rng.randint(20, 1_000_000_000)
        py = _lsh_cfg_minhash_target(n)
        sq = duckdb.sql(
            "SELECT bands, rpb FROM ("
            + _mh_cfg_sql(f"range(0, {n})")
            + ")"
        ).fetchone()
        assert (py[0], py[1]) == (sq[0], sq[1]), ("mh", n, py, sq)


def test_metadata_row_count_partitioned_layout(spark, tmp_path):
    """The footer counter sums MULTI-FILE layouts correctly — the
    os.walk branch that a (year, qtr)-partitioned production table
    exercises (the oracle fixtures are single files)."""
    import jp_qcew_spark.io as io_mod

    df = spark.range(1000).selectExpr(
        "id", "id % 4 AS part"
    )
    path = str(tmp_path / "documents.parquet")
    df.write.partitionBy("part").parquet(path)
    assert io_mod.metadata_row_count(spark, str(tmp_path), "documents") == 1000


def test_metadata_row_count_skips_hidden_files(spark, tmp_path):
    """The footer counter mirrors Spark's InMemoryFileIndex visibility
    rule: files and path components starting with '_' or '.' (stale
    _temporary/ from a killed write, .crc siblings) do NOT count —
    otherwise the derived LSH config would diverge from the oracle's
    count(*) while the fast path 'succeeds' (code-review r11)."""
    import shutil

    import jp_qcew_spark.io as io_mod

    path = tmp_path / "documents.parquet"
    spark.range(100).toDF("id").write.parquet(str(path))
    real = [f for f in path.iterdir() if f.name.endswith(".parquet")][0]
    # a stale commit-protocol leftover and a hidden file
    (path / "_temporary").mkdir()
    shutil.copy(real, path / "_temporary" / "part-junk.parquet")
    shutil.copy(real, path / ".hidden.parquet")
    assert (
        io_mod.metadata_row_count(spark, str(tmp_path), "documents") == 100
    )
    # and Spark agrees
    assert spark.read.parquet(str(path)).count() == 100


def test_ivf_curve_plan_and_count_free(spark, sf_dir, monkeypatch):
    """knn_ivf_recall_curve plan pins: no cartesian product, every
    broadcast hint on a corpus-INDEPENDENT side — since round 14 the
    trained centroid set arrives as ONE promoted LocalRelation
    (``_trained``; the seed/superstep chain runs once per process
    inside the promotion build), so the sites are: the promoted
    centroids in the assignment pass, the centroid ranking join, the
    bounded query cell set, the 3-row probe table, the 1-row
    exact-total scalar — exactly 5 SITES. Top-k windows per
    (nprobe, query_id), and NO count() during build (corpus count from
    parquet footers, the VERDICT r10 #6 discipline — the promotion
    collects, it never counts)."""
    import re

    # the CLASSIC class, not the pyspark.sql base — the base's count is
    # overridden there and a base-class patch never intercepts (found
    # vacuous in round 13)
    from pyspark.sql.classic.dataframe import DataFrame

    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import q_knn_ivf_recall_curve

    def _boom(self):
        raise AssertionError(
            "DataFrame.count() ran during query build — the config "
            "scalar must come from parquet footer metadata"
        )

    monkeypatch.setattr(DataFrame, "count", _boom)
    df = q_knn_ivf_recall_curve(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    # 5 hint SITES (all bounded sides), deduped by hinted-subtree
    # semantic hash — the occurrence counter multiplies with analyzer
    # re-expansion of shared subtrees and is planner-version noise
    # (ADVICE r11); a NEW hint on a corpus-sized side moves the site
    # count, which is the invariant that matters
    assert I.broadcast_hint_sites(df) == 5
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(nprobe#\d+, query_id#\d+", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_curve_monotone(spark, sf_dir):
    """The measured curve is a real tuner output: one row per nprobe,
    recall@3 and scan fraction both nondecreasing in nprobe (a larger
    probe set is a superset of candidates), recall in [0, 1], and the
    full-probe recall at least the single-cell recall."""
    from jp_qcew_spark.queries.similarity import (
        _IVF_CURVE_NPROBES,
        q_knn_ivf_recall_curve,
    )

    rows = (
        q_knn_ivf_recall_curve(spark, sf_dir)
        .orderBy("nprobe")
        .collect()
    )
    assert [r["nprobe"] for r in rows] == list(_IVF_CURVE_NPROBES)
    recalls = [r["recall_at3"] for r in rows]
    fracs = [r["scan_frac"] for r in rows]
    assert all(0.0 <= x <= 1.0 for x in recalls)
    assert recalls == sorted(recalls)
    assert fracs == sorted(fracs)
    assert all(0.0 < f < 1.0 for f in fracs)


def test_metadata_row_count_follows_sparks_file_set(spark, tmp_path):
    """The footer counter counts exactly the files SPARK reads, by
    construction (DataFrame.inputFiles), not a hand-rolled re-listing:
    a suffix-less part file (Hive/Trino-style '000000_0' naming) is
    data to Spark and must be data to the counter — the old
    '.parquet'-suffix filter would have silently under-counted and
    derived an LSH config the oracle's count(*) disagrees with
    (code-review late-r11)."""
    import shutil

    import jp_qcew_spark.io as io_mod

    path = tmp_path / "documents.parquet"
    spark.range(100).toDF("id").repartition(1).write.parquet(str(path))
    real = [f for f in path.iterdir() if f.name.endswith(".parquet")][0]
    shutil.copy(real, path / "000000_0")  # no extension: still data
    assert spark.read.parquet(str(path)).count() == 200
    assert (
        io_mod.metadata_row_count(spark, str(tmp_path), "documents") == 200
    )


def test_metadata_row_count_missing_table_raises(spark, tmp_path):
    """A missing table surfaces load_table's own error instead of
    being swallowed into a fallback scan of the same missing path
    (code-review late-r11: the old bare-except caught the counter's
    own FileNotFoundError and re-failed inside Spark, pointing away
    from the real problem)."""
    import pytest as _pytest

    import jp_qcew_spark.io as io_mod

    with _pytest.raises(Exception) as ei:
        io_mod.metadata_row_count(spark, str(tmp_path), "documents")
    # the error names the missing path, not a downstream symptom
    assert "documents" in str(ei.value)


def test_pq_recall_eval_shape(spark, sf_dir):
    """knn_pq_recall_eval: one row per PQ tier, recall in [0, 1], and
    the plan keeps the family rules (no cartesian; broadcast hints only
    on bounded sides — codebooks, LUTs, centroids, the query slice, the
    probe/total scalars)."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import (
        _PQ_EVAL_TIERS,
        q_knn_pq_recall_eval,
    )

    df = q_knn_pq_recall_eval(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    rows = df.orderBy("tier").collect()
    assert [r["tier"] for r in rows] == sorted(_PQ_EVAL_TIERS)
    assert all(0.0 <= r["recall_at3"] <= 1.0 for r in rows)


def test_bloom_hash_no_int64_overflow(spark):
    """The bloom hash is overflow-free and cross-engine identical for
    EVERY int64 key (late-r11 review: the naive key*A form wrapped
    silently past key ~ 2.82e9 with ANSI off while DuckDB raised —
    silent false negatives on one engine, an error on the other)."""
    import duckdb
    from pyspark.sql import functions as F

    from jp_qcew_spark.queries.curation import (
        _BLOOM_A,
        _bloom_hashes,
        _bloom_sql_hash,
    )

    # negatives included (ADVICE r11): both engines' truncated modulo
    # would otherwise yield NEGATIVE bucket indices — the final +M
    # normalization maps every int64 key into [0, M) identically on
    # both engines while leaving non-negative keys' values untouched
    keys = [
        0, 1, 2_824_120_457, 4_294_967_295, 2**62, 2**63 - 1,
        -1, -2_824_120_457, -(2**62), -(2**63),
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    hs = _bloom_hashes(F.col("k"))
    got = {
        r["k"]: (r["h0"], r["h1"], r["h2"])
        for r in df.select(
            "k", *[h.alias(f"h{i}") for i, h in enumerate(hs)]
        ).collect()
    }
    for k in keys:
        sq = duckdb.sql(
            "SELECT "
            + ", ".join(_bloom_sql_hash(str(k), a) for a in _BLOOM_A)
        ).fetchone()
        assert got[k] == tuple(sq), k
        assert all(0 <= v < 8192 for v in sq), k


def test_sampling_null_text_cross_engine(spark, tmp_path):
    """One NULL-text document must not diverge the deterministic
    samplers across engines (late-r11 review: Spark's concat_ws SKIPS a
    NULL where SQL '||' propagates it, and the engines' window NULL
    orderings are opposite). Both queries now pin NULL text to '' on
    both sides; this runs each against its DuckDB oracle on a corpus
    WITH a NULL-text row."""
    import duckdb

    from jp_qcew_spark.queries import all_oracles, all_queries

    QUERIES, ORACLE = all_queries(), all_oracles()
    rows = [
        (i, f"doc text number {i} alpha beta", "en", f"s{i % 3}", 20)
        for i in range(30)
    ]
    rows.append((99, None, "en", "s0", 0))  # NULL text
    rows.append((100, "a null source row here", "es", None, 22))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).repartition(2).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    def canon(rows):  # NULLs sort; floats normalize
        return sorted(
            (
                tuple(
                    round(v, 9) if isinstance(v, float) else v for v in r
                )
                for r in rows
            ),
            key=lambda t: tuple(
                "" if v is None else str(v) for v in t
            ),
        )

    for name in (
        "sample_reservoir",
        "sample_temperature",
        "text_stats",
        "text_chunk",
        "sketch_hll_rollup",
    ):
        got = canon(tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect())
        want = canon(con.execute(ORACLE[name]).fetchall())
        assert got == want, (name, got[:5], want[:5])
