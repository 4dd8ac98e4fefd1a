"""LSH candidate layer: the band self-join ``ext.dedup.band_pairs`` and its
twin ``queries.dedup._band_pairs_sql``, the MinHash candidate builder
``_minhash_cand`` and its twin ``_MH_CTES`` + ``_MH_CAND_SQL``; the sign
and random-hyperplane banding configs (fixed, recall-targeted and
cost-swept, each with its SQL twin), the planted fixtures, the recall
contracts and the plan pins of the banded dedup/ANN queries."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F


def _duck(tmp_path, spark, name, rows, schema):
    """A DuckDB view ``name`` over a Spark-written parquet of ``rows``,
    and the same rows read back by Spark."""
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return con, spark.read.parquet(path)


def test_band_pairs_twins_agree(spark, tmp_path):
    """``band_pairs`` and ``_band_pairs_sql`` emit the same pairs, each
    once: ids 1 and 2 collide in two bands, id 3 is alone in its bucket,
    ids 4-6 share one bucket, and id 7 carries that bucket's key in
    another band, so it pairs with nobody."""
    from jp_qcew_spark.ext.dedup import band_pairs
    from jp_qcew_spark.queries.dedup import _band_pairs_sql

    rows = [
        (1, 0, "x"), (2, 0, "x"), (1, 1, "y"), (2, 1, "y"),
        (3, 0, "z"), (3, 1, "w"),
        (4, 0, "k"), (5, 0, "k"), (6, 0, "k"),
        (7, 1, "k"),
    ]
    con, banded = _duck(
        tmp_path, spark, "banded", rows, "id long, band_idx int, band_key string"
    )
    got = sorted(
        tuple(r) for r in band_pairs(banded, "id", "a", "b").collect()
    )
    sql = f"WITH {_band_pairs_sql('banded', 'id', 'a', 'b')} SELECT a, b FROM cand"
    twin = sorted(con.execute(sql).fetchall())
    con.close()
    assert got == [(1, 2), (4, 5), (4, 6), (5, 6)]
    assert twin == got


def test_minhash_cand_twins_agree(spark, tmp_path):
    """``_minhash_cand`` (signatures and same-band pairs) equals the
    oracle chain ``_MH_CTES`` + ``_MH_CAND_SQL`` on a corpus with an exact
    duplicate pair, a near duplicate, three copies of one text and a
    two-token doc (no shingles, so no signature and no pair)."""
    from jp_qcew_spark.ext.dedup import exploded_shingles
    from jp_qcew_spark.queries.dedup import (
        _MH_CAND_SQL,
        _MH_CTES,
        _NUM_BANDS,
        _NUM_HASHES,
        _ROWS_PER_BAND,
        _minhash_cand,
    )

    base = [f"w{j}" for j in range(24)]
    other = " ".join(f"o{j}" for j in range(12))
    texts = {
        0: " ".join(base),
        1: " ".join(base),
        2: " ".join(base[:20] + ["q1", "q2", "q3", "q4"]),
        3: "short doc",
        4: other,
        5: other,
        6: other,
        7: " ".join(f"u{j}" for j in range(9)),
    }
    con, docs = _duck(
        tmp_path, spark, "documents", sorted(texts.items()),
        "doc_id long, text string",
    )
    sig, cand = _minhash_cand(
        exploded_shingles(docs, "doc_id", "text"), _NUM_BANDS, _ROWS_PER_BAND
    )
    mh = ", ".join(f"mh_{i}" for i in range(_NUM_HASHES))
    got_sig = sorted(tuple(r) for r in sig.select("doc_id", *mh.split(", ")).collect())
    got = sorted(tuple(r) for r in cand.collect())
    twin_sig = sorted(
        con.execute(f"WITH {_MH_CTES} SELECT doc_id, {mh} FROM sig").fetchall()
    )
    twin = sorted(
        con.execute(
            f"WITH {_MH_CTES}, {_MH_CAND_SQL} SELECT doc_a, doc_b FROM cand"
        ).fetchall()
    )
    con.close()
    assert [r[0] for r in got_sig] == [0, 1, 2, 4, 5, 6, 7]
    assert got_sig == twin_sig
    assert {(0, 1), (4, 5), (4, 6), (5, 6)} <= set(got)
    assert all(3 not in p for p in got)
    assert twin == got


def test_lsh_cfg_occupancy_and_plane_budget():
    """The banded config's two scale invariants hold over 12 orders of
    magnitude: per-band expected occupancy stays ~16 until the 32-bit
    clamp (n ≈ 69 B), and bands × row_bits never exceeds the 64 coordinate
    planes an embedding provides."""
    from jp_qcew_spark.queries.similarity import _lsh_cfg

    for exp in range(1, 12):
        n = 10**exp
        bands, bits = _lsh_cfg(n)
        assert 2 <= bands <= 4
        assert 4 <= bits <= 32
        assert bands * bits <= 64
        if n <= 16 * 2**32 and n >= 16 * 2**4:
            # occupancy rule: 2^bits buckets hold n at ~16 per bucket
            assert 2 ** (bits - 1) < n / 16 <= 2**bits


def test_rp_weights_match_duckdb_md5_derivation(spark):
    """The Rademacher plane weights are a pinned public derivation each
    engine owns INDEPENDENTLY: Spark builds the weight matrix from
    hashlib-md5 parity bits at plan-build time, the oracle re-derives
    them in SQL. This test runs the oracle's exact weight expression in
    DuckDB for every (plane, dim) a 4x6 config uses and asserts the
    Spark band keys over a crafted vector match a pure-Python
    QUANTIZED-integer dot of the DUCKDB-derived weights — any drift in
    either derivation (or in the floor-quantization that makes the dot
    order-free) breaks it."""
    import math

    import duckdb

    from jp_qcew_spark.ext.similarity import RP_Q, rp_bands, rp_weight

    vec = [((i * 37) % 13) - 6.0 + 1e-7 * i for i in range(64)]
    bands, bits = 4, 6
    con = duckdb.connect()
    duck_w = {
        (p, i): float(
            con.execute(
                "SELECT CASE WHEN instr('02468ace',"
                f" substr(md5('rp:' || {p} || ':' || {i}), 2, 1)) > 0"
                " THEN 1.0 ELSE -1.0 END"
            ).fetchone()[0]
        )
        for p in range(bands * bits)
        for i in range(64)
    }
    assert all(
        duck_w[(p, i)] == rp_weight(p, i) for (p, i) in duck_w
    ), "hashlib and DuckDB md5 parity bits diverged"

    def py_bit(p):
        s = sum(
            int(duck_w[(p, i)]) * math.floor(vec[i] * RP_Q)
            for i in range(64)
        )  # exact ints: any summation order gives the same value
        return "1" if s >= 0 else "0"

    want = [
        "".join(py_bit(b * bits + j) for j in range(bits))
        for b in range(bands)
    ]
    df = spark.createDataFrame([(vec,)], "v array<double>")
    got = df.select(rp_bands(F.col("v"), bands, bits).alias("k")).collect()[
        0
    ]["k"]
    assert list(got) == want


def test_rp_planes_balance_buckets(spark, sf_dir):
    """Plane QUALITY is load-bearing: correlated planes collapse the
    corpus into a few degenerate buckets and re-quadraticize the
    self-join (the abandoned affine-LCG derivation measured max
    occupancy 1050 on 20k vectors — 18x the md5 planes' candidate
    volume). Pin a balance rail at the EXACT config the queries would
    use on this corpus (count + _lsh_cfg_rp, mirroring the other plan
    tests): no band-bucket may hold more than 10% of the corpus."""
    from jp_qcew_spark.ext.similarity import rp_bands
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import _lsh_cfg_rp, _vecs

    n = load_table(spark, sf_dir, "embeddings").count()
    bands, bits = _lsh_cfg_rp(n)
    occ = (
        _vecs(spark, sf_dir)
        .select(
            F.posexplode(rp_bands(F.col("v"), bands, bits)).alias(
                "band", "bkt"
            )
        )
        .groupBy("band", "bkt")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert occ <= max(32, n // 10), (
        f"degenerate RP bucket: max occupancy {occ} of {n}"
    )


def test_dedup_embedding_rp_plan(spark, sf_dir):
    """The RP generator's designed plan shape: the dense projection runs
    as ONE Arrow-vectorized python eval (ArrowEvalPython — the
    embedding_gram_matrix discipline; NEVER row-at-a-time
    BatchEvalPython, and exactly one such node: keygen is the only
    Python in the pipeline), band fan-out via Generate, the
    pair-distinct aggregate between generator and verify joins, no
    broadcast hint, no cartesian. Both all-JVM dot forms were measured
    and rejected: unrolled codegen chains broke whole-stage codegen
    (12 s build + interpreted eval), and the HOF fold cost 45 s of
    keygen alone at sf3."""
    from jp_qcew_spark.queries.similarity import q_dedup_embedding_rp

    df = q_dedup_embedding_rp(spark, sf_dir)
    from jp_qcew_spark.plans import inspect as I

    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the batched matmul
    assert "HashAggregate" in plan  # the candidate-pair distinct
    # the keygen must be computed ONCE, not once per self-join side
    # (measured pre-fix: the matmul ran twice, under each side of the
    # banded self-join): the banded frame is scope-cached, so EVERY
    # ArrowEvalPython in the plan tree must sit inside an
    # InMemoryRelation's stored subtree — the text renders that subtree
    # once per scan site, so check each occurrence's context, not a
    # global count.
    executed = df._jdf.queryExecution().executedPlan().toString()
    lines = executed.splitlines()
    hits = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert hits, "keygen matmul missing from the executed plan"
    assert all(
        any(
            "InMemoryRelation" in l
            for l in lines[max(0, i - 4) : i]
        )
        for i in hits
    ), "keygen ArrowEvalPython outside the banded cache"
    assert executed.count("InMemoryTableScan") >= 2  # both join sides


def test_knn_recall_rp_plan(spark, sf_dir):
    """RP recall eval: composition of brute force (bounded query set
    broadcast — the only non-equi joins are that bounded BNLJ) and the
    RP banded serving path (Arrow-batched keygen, never row-at-a-time
    Python); the eval join itself is top-3 lists, 3 rows per side."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import q_knn_recall_rp

    df = q_knn_recall_rp(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the RP keygen matmul
    # bounded sides broadcast: the 10-query set on both index builds
    assert I.broadcast_hint_count(df) >= 2
    # the serving path caches the RP keygen exactly like the dedup path
    # (ADVICE r9: pre-fix, the matmul ran once per self-join side): every
    # ArrowEvalPython in the executed plan must sit inside an
    # InMemoryRelation's stored subtree
    executed = df._jdf.queryExecution().executedPlan().toString()
    lines = executed.splitlines()
    hits = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert hits, "RP keygen matmul missing from the executed plan"
    assert all(
        any(
            "InMemoryRelation" in l
            for l in lines[max(0, i - 4) : i]
        )
        for i in hits
    ), "serving-path keygen ArrowEvalPython outside the cached key frame"
    rows = df.limit(20).collect()
    assert [r["query_id"] for r in rows] == list(range(10))
    assert all(0.0 <= r["recall_rp_at_3"] <= 1.0 for r in rows)


def test_dedup_recall_eval_plan_and_semantics(spark, sf_dir):
    """Binned pair-recall eval: exactly ONE broadcast hint (the bounded
    200-vector eval slice — ground truth is |slice| x n, LINEAR in the
    corpus, never the n^2 all-pairs), generators under eval keep their
    own pinned shapes (cached banded keygen: every ArrowEvalPython sits
    inside an InMemoryRelation), and recall is a per-band ratio in
    [0, 1] with n_rp <= n_true and n_coord <= n_true."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import q_dedup_recall_eval

    df = q_dedup_recall_eval(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 1
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    rows = df.collect()
    assert rows, "eval produced no similarity bands"
    for r in rows:
        assert r["n_rp"] <= r["n_true"] and r["n_coord"] <= r["n_true"]
        assert 0.0 <= r["recall_rp"] <= 1.0
        assert 0.0 <= r["recall_coord"] <= 1.0


def test_target_cfg_derivation():
    """The r11 cost sweep: bits start AT OR ABOVE the occupancy floor,
    b = ceil(ln(1-R)/ln(1-p^r)) is minimal for the CHOSEN r, the swept
    config never costs more than the floor config under the documented
    probe-volume model, and the plane budget raises loudly when
    outgrown."""
    import pytest

    from jp_qcew_spark.queries.similarity import (
        _RP_TGT_PLANES,
        _lsh_cfg_rp_target,
        _qgrid,
    )

    p = 1.0 - math.acos(0.8) / math.pi

    def b_for(r):
        q = _qgrid(p**r, 1e12)
        return math.ceil(_qgrid(math.log(0.1) / math.log(1.0 - q), 1e6))

    def cost(b, r, n):
        return b * (1.0 + n / 2.0 ** (r + 1))

    for n in (205, 712, 2100, 10_100, 100_000):
        bands, bits = _lsh_cfg_rp_target(n)
        floor_bits = max(4, math.ceil(math.log2(n / 16.0)))
        assert bits >= floor_bits  # never below the occupancy floor
        q = _qgrid(p**bits, 1e12)
        # the derived b satisfies the recall floor ...
        assert 1.0 - (1.0 - q) ** bands >= 0.9
        # ... minimally (b-1 bands would miss it)
        assert 1.0 - (1.0 - q) ** (bands - 1) < 0.9
        assert bands * bits <= _RP_TGT_PLANES
        # the sweep only ever improves on the floor config
        assert cost(bands, bits, n) <= cost(b_for(floor_bits), floor_bits, n)
        # and is the argmin over every admissible swept r
        for r in range(floor_bits, 41):
            br = b_for(r)
            if br * r > _RP_TGT_PLANES:
                break
            assert cost(bands, bits, n) <= cost(br, r, n)
    # a corpus whose FLOOR config already outgrows the oracle's plane
    # enumeration must raise, not silently hash-diverge (_lsh_cfg_rp rule)
    with pytest.raises(ValueError, match="planes"):
        _lsh_cfg_rp_target(10**9)


def test_rp_fixed_cfg_raises_past_oracle_budget():
    """The fixed-bands RP tier raises past its own 128-plane oracle
    budget (ADVICE r9: past row_bits=32 the oracle's sign string was
    silently truncated)."""
    import pytest

    from jp_qcew_spark.queries.similarity import _lsh_cfg_rp

    assert _lsh_cfg_rp(16 * 2**32) == (4, 32)
    with pytest.raises(ValueError, match="planes"):
        _lsh_cfg_rp(16 * 2**33)


def test_aug_vecs_fixture(spark, sf_dir):
    """The seeded fixture: |aug| = n + 2*_PLANT_N; planted cohorts sit
    at the designed cosine targets (~0.958 for e=0.3, ~0.857 for
    e=0.6), i.e. the >=0.8 bin has real members to certify against."""
    from jp_qcew_spark.ext import similarity as S
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import _PLANT_N, _aug_vecs

    n = load_table(spark, sf_dir, "embeddings").count()
    aug = _aug_vecs(spark, sf_dir)
    assert aug.count() == n + 2 * _PLANT_N
    base = aug.filter(F.col("vec_id") < _PLANT_N).select(
        "vec_id", F.col("v").alias("vo")
    )
    for off, lo_cos, hi_cos in (
        (1_000_000, 0.93, 0.99),
        (2_000_000, 0.78, 0.92),
    ):
        planted = aug.filter(
            (F.col("vec_id") >= off) & (F.col("vec_id") < off + _PLANT_N)
        ).select((F.col("vec_id") - off).alias("vec_id"), "v")
        cs = (
            base.join(planted, "vec_id")
            .select(S.cosine(F.col("vo"), F.col("v")).alias("c"))
            .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
            .collect()[0]
        )
        assert cs["lo"] >= lo_cos and cs["hi"] <= hi_cos, (
            off,
            cs["lo"],
            cs["hi"],
        )


def test_recall_target_contract(spark, sf_dir):
    """THE round-10 contract: recall in the >=0.8-cosine bin clears the
    0.9 floor, and the bands column carries the derived count."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import (
        _PLANT_N,
        _lsh_cfg_rp_target,
        q_dedup_recall_target_eval,
    )

    rows = {
        r["sim_band"]: r
        for r in q_dedup_recall_target_eval(spark, sf_dir).collect()
    }
    hi = rows["0.80+"]
    assert hi["n_true"] >= 2 * _PLANT_N * 0.9  # the planted cohorts
    assert hi["recall_tgt"] >= 0.9, hi
    n_aug = load_table(spark, sf_dir, "embeddings").count() + 2 * _PLANT_N
    assert hi["bands_used"] == _lsh_cfg_rp_target(n_aug)[0]


def test_recall_target_contract_sf01(spark):
    """The verdict's pinned certification scale: >=0.9 recall in the
    >=0.8 bin at sf0.1 (measured 0.99). The path is deliberately pinned
    (unlike the r9 balance-rail fixture ADVICE flagged, the config here
    is derived from the corpus the query actually reads, so the test is
    internally consistent at any path — sf0.1 is named because the
    certification CLAIM is at that scale)."""
    from jp_qcew_spark.queries.similarity import (
        q_dedup_recall_target_eval,
    )

    rows = {
        r["sim_band"]: r
        for r in q_dedup_recall_target_eval(
            spark, "/root/testdata/sf0.1"
        ).collect()
    }
    assert rows["0.80+"]["recall_tgt"] >= 0.9, rows["0.80+"]


def test_target_candidate_volume_rail(spark, sf_dir):
    """Candidate volume stays <= bands x the largest single band's pair
    count — the banding multiplies the occupancy-ruled volume by AT MOST
    b (a pair colliding in several bands is distinct-ed, so usually
    less)."""
    from jp_qcew_spark.ext import similarity as S
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import (
        _PLANT_N,
        _aug_vecs,
        _banded_cand,
        _lsh_cfg_rp_target,
    )

    n_aug = load_table(spark, sf_dir, "embeddings").count() + 2 * _PLANT_N
    bands, bits = _lsh_cfg_rp_target(n_aug)
    aug = _aug_vecs(spark, sf_dir)
    _vecs_f, cand = _banded_cand(
        spark,
        sf_dir,
        cfg=_lsh_cfg_rp_target,
        keyfn=S.rp_bands,
        vecs=aug,
        n=n_aug,
    )
    n_cand = cand.count()
    per_band = (
        aug.select(
            F.posexplode(
                S.rp_bands(F.col("v"), bands, bits)
            ).alias("band", "bkt")
        )
        .groupBy("band", "bkt")
        .agg(F.count("*").alias("c"))
        .select("band", (F.col("c") * (F.col("c") - 1) / 2).alias("p"))
        .groupBy("band")
        .agg(F.sum("p").alias("pairs"))
        .agg(F.max("pairs").alias("mx"))
        .collect()[0]["mx"]
    )
    assert n_cand <= bands * per_band, (n_cand, bands, per_band)


def test_dedup_rp_target_plan(spark, sf_dir):
    """Targeted generator keeps the RP dedup plan shape: ONE cached
    Arrow keygen matmul (every ArrowEvalPython inside an
    InMemoryRelation subtree), Generate band fan-out, pair-distinct
    aggregate, no cartesian, no corpus broadcast."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import (
        q_dedup_embedding_rp_target,
    )

    df = q_dedup_embedding_rp_target(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    assert "Generate" in plan
    assert "HashAggregate" in plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    lines = executed.splitlines()
    hits = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert hits, "keygen matmul missing from the executed plan"
    assert all(
        any(
            "InMemoryRelation" in l
            for l in lines[max(0, i - 4) : i]
        )
        for i in hits
    ), "keygen ArrowEvalPython outside the banded cache"


def test_recall_target_eval_plan(spark, sf_dir):
    """The eval keeps the linear-truth shape: exactly ONE broadcast hint
    (the bounded eval slice — |slice| x n, never n^2), cached keygen, no
    cartesian; ratios in [0, 1] with n_tgt <= n_true."""
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import (
        q_dedup_recall_target_eval,
    )

    df = q_dedup_recall_target_eval(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 1
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["n_tgt"] <= r["n_true"]
        assert 0.0 <= r["recall_tgt"] <= 1.0


def test_semdedup_rp_substrate_plan(spark, sf_dir):
    """The RP substrate behind the clustering family (VERDICT r9 #5):
    the mutual-edge pipeline keeps the keygen-once pin (every
    ArrowEvalPython inside an InMemoryRelation subtree), keyed banded
    self-join, NO corpus-side broadcast, no cartesian."""
    from jp_qcew_spark.ext import similarity as S
    from jp_qcew_spark.plans import inspect as I
    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg_rp,
        _mutual_edges,
    )

    df = _mutual_edges(spark, sf_dir, cfg=_lsh_cfg_rp, keyfn=S.rp_bands)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    lines = executed.splitlines()
    hits = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert hits, "RP keygen matmul missing from the executed plan"
    assert all(
        any(
            "InMemoryRelation" in l
            for l in lines[max(0, i - 4) : i]
        )
        for i in hits
    ), "clustering-substrate keygen ArrowEvalPython outside the cache"


def test_semdedup_rp_semantics(spark, sf_dir):
    """Tier swap is config, not semantics: every cluster keeps exactly
    one representative, n_kept + n_dropped == n_members, keep_cos is a
    valid cosine, and singleton components are kept whole."""
    from jp_qcew_spark.queries.similarity import q_semdedup_rp

    rows = q_semdedup_rp(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_members"]
        assert r["n_kept"] >= 1
        assert -1.0 <= r["keep_cos"] <= 1.0
        if r["n_members"] == 1:
            assert r["n_dropped"] == 0 and r["keep_id"] == r["comp"]


def test_target_cfg_is_a_real_parameter():
    """The (threshold, recall) target is a PARAMETER, not a constant
    pair: across a grid of contracts the derived b always satisfies the
    floor minimally, tightens monotonically with the recall floor, and
    grows as the threshold drops (lower-similarity pairs collide less
    per band, so more bands are needed)."""
    import math

    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg_rp_target,
        _qgrid,
    )

    n = 10_100
    for thr in (0.7, 0.8, 0.9):
        for rec in (0.8, 0.9, 0.95):
            b, r = _lsh_cfg_rp_target(n, thr, rec)
            p = 1.0 - math.acos(thr) / math.pi
            q = _qgrid(p**r, 1e12)
            assert 1.0 - (1.0 - q) ** b >= rec
            assert 1.0 - (1.0 - q) ** (b - 1) < rec
    b90, _ = _lsh_cfg_rp_target(n, 0.8, 0.90)
    b95, _ = _lsh_cfg_rp_target(n, 0.8, 0.95)
    assert b95 > b90
    b_lo, _ = _lsh_cfg_rp_target(n, 0.7, 0.9)
    b_hi, _ = _lsh_cfg_rp_target(n, 0.9, 0.9)
    assert b_lo > b90 > b_hi


def test_target_cfg_domain_guard():
    """Degenerate targets raise instead of deriving b=0 (threshold=1.0
    makes p=1 and the log ratio collapse)."""
    import pytest

    from jp_qcew_spark.queries.similarity import _lsh_cfg_rp_target

    for thr, rec in ((1.0, 0.9), (0.0, 0.9), (0.8, 1.0), (0.8, 0.0)):
        with pytest.raises(ValueError, match="strictly inside"):
            _lsh_cfg_rp_target(1000, thr, rec)


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


def test_minhash_band_keys_rejects_ragged_config():
    """num_hashes not divisible by rows_per_band fails loudly instead of
    silently shrinking the band-key space (ADVICE r10)."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext.dedup import minhash_band_keys

    with pytest.raises(ValueError, match="multiple of"):
        minhash_band_keys(F.col("text"), num_hashes=13, rows_per_band=4)


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

