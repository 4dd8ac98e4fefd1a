"""Round-9 operator tests: BPE at production round counts, the banded
LSH generator's config rule, and the tokenizer→packing composition."""

from __future__ import annotations

import re
import time

from pyspark.sql import functions as F

from tests.test_round8_ops import _py_bpe


def test_bpe_learn_production_rounds_flat_cost(spark):
    """VERDICT r8 #3: the BPE loop must hold at production round counts.
    Two pins on an 8-round run over a synthetic type table:

    1. CORRECTNESS AT DEPTH — all 8 merge rounds reproduce the pure-
       Python reference scan (argmax pair, tie-break, islands parity,
       post-merge totals), not just the 2-round oracle contract.
    2. CONSTANT PLAN DEPTH — ``_bpe_learn`` localCheckpoints the type
       table each round (the connected_components discipline), so the
       formatted plan of the round-N table is rooted at round N-1's
       materialized RDD and its SIZE stays flat instead of growing by a
       full round of windows+joins per merge. Without the checkpoint the
       round-8 plan embeds rounds 1..7 and re-analysis alone dominates.
       Wall time per round is recorded and must not blow up (generous 8×
       rail over the early-round median — the hard pin is the plan size,
       which is deterministic)."""
    from jp_qcew_spark.io import track_local_checkpoint
    from jp_qcew_spark.queries.training import _bpe_positions, _bpe_round

    freqs = {"abcdefghijkl": 3, "abcdefxyzuvw": 2, "mnopqrstuvwx": 1}
    words = spark.createDataFrame(
        list(freqs.items()), "word string, freq long"
    ).withColumn(
        "seq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ),
    )

    got, plan_sizes, round_secs = [], [], []
    for rnd in range(1, 9):
        t0 = time.monotonic()
        words = track_local_checkpoint(words)
        s, words = _bpe_round(_bpe_positions(words), rnd)
        row = s.collect()[0]
        words.count()  # materialize this round like the real loop's sink
        round_secs.append(time.monotonic() - t0)
        plan_sizes.append(
            len(words._jdf.queryExecution().optimizedPlan().toString())
        )
        got.append(
            (row.left_sym, row.right_sym, row.pair_freq, row.n_symbols_after)
        )

    assert got == _py_bpe(freqs, rounds=8)
    # plan depth constant: every post-checkpoint round plans against a
    # materialized scan, so round 8's plan is no bigger than round 2's
    # (identical op count; only expr ids differ)
    assert max(plan_sizes[1:]) <= 1.5 * plan_sizes[1], plan_sizes
    early = sorted(round_secs[:3])[1]
    assert max(round_secs[3:]) <= 8 * early, round_secs


def test_bpe_learn_default_matches_unrolled_contract(spark, sf_dir):
    """The public queries keep the 2-round oracle contract: _bpe_learn's
    default round count is exactly _BPE_ROUNDS = 2."""
    from jp_qcew_spark.queries import training as T

    assert T._BPE_ROUNDS == 2
    import inspect

    sig = inspect.signature(T._bpe_learn)
    assert sig.parameters["rounds"].default == T._BPE_ROUNDS


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


def test_tokenizer_pack_pipeline_composes(spark, sf_dir):
    """The pipeline's pack totals must equal the composition done by
    hand: per-doc BPE token counts (the bpe_apply path, no limit) packed
    by the seq_pack rule. Cross-checks the two stages agree on the join
    key and the window frame."""
    from jp_qcew_spark.queries.training import q_tokenizer_pack_pipeline

    rows = q_tokenizer_pack_pipeline(spark, sf_dir).collect()
    assert rows, "pipeline produced no packs"
    # every pack respects the budget accounting: fill = tokens/256, and
    # a pack overflows only via its last (straddling) document
    for r in rows:
        assert r.n_docs >= 1
        assert abs(r.fill - r.pack_tokens / 256.0) < 6e-5  # 4-dec round
    # each source's pack ids start at 0 and strictly increase (gaps are
    # legal: one oversized document can straddle several budgets)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.pack_id)
    for pids in by_src.values():
        pids.sort()
        assert pids[0] == 0
        assert all(b > a for a, b in zip(pids, pids[1:]))


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
