"""Round-11 pins: the footer-metadata config scalar, the graph rail
message, the IVF recall curve, the PQ recall eval, the Bloom hash and
null-text sampling."""

from __future__ import annotations

import pytest


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


# --------------------------------------------------------------------------
# The text MinHash recall contract (VERDICT r10 #1)
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Property sweeps: the contracts hold over the whole parameter space, and
# the SQL twins agree with Python at arbitrary corpus sizes
# --------------------------------------------------------------------------


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
