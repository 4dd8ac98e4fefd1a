"""Independent invariants for the round-7 back-half operators — a third
implementation or a mathematical identity per op, beyond the shared-logic
DuckDB oracle:

- exact-substring dedup: the stride-coverage GUARANTEE (any ≥ 80-char
  verbatim shared run is detected at ANY alignment) swept by hypothesis,
- Markov transitions: rows are a probability distribution with exact
  integer support accounting,
- Gram matrix: symmetric PSD with trace equal to an independently
  computed Frobenius sum.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# dedup_exact_substring: stride-coverage guarantee
# ---------------------------------------------------------------------------

_RUN = "R" * 0  # placeholder to keep alphabet below obvious


def _rand_text(rng: np.random.Generator, n: int) -> str:
    return "".join(rng.choice(list("abcdefgh ")) for _ in range(n))


@given(
    off_a=st.integers(min_value=0, max_value=37),
    off_b=st.integers(min_value=0, max_value=37),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_settings
def test_exact_substring_detects_runs_at_any_alignment(spark,
                                                       tmp_path_factory,
                                                       off_a, off_b, seed):
    """Alignment invariance — the property that KILLED the first cut of
    this operator: with stride-20 grid windows, a shared verbatim run was
    only detected when both copies sat at offsets congruent mod 20
    (hypothesis found off_a=0/off_b=1 on its first sweep). Content-
    defined local-min anchors select the same in-run positions in both
    documents regardless of where the run starts, so a 120-char shared
    run must always surface past the shared >= 2 emission filter (its
    ~78 interior hash triples make < 2 local minima impossible for any
    md5 sequence that isn't near-monotone over 78 steps — and the
    content here is seed-fixed, so the check is deterministic). Filler
    is drawn from a disjoint alphabet so no accidental anchors collide
    with the planted run."""
    from jp_qcew_spark.queries.dedup import q_dedup_exact_substring

    rng = np.random.default_rng(seed)
    run = "".join(rng.choice(list("XYZUVW")) for _ in range(120))
    doc_a = _rand_text(rng, off_a) + run + _rand_text(rng, 25)
    doc_b = _rand_text(rng, off_b) + run + _rand_text(rng, 40)
    # decoys with no cross-doc content
    docs = [(0, doc_a), (1, doc_b), (2, _rand_text(rng, 160)),
            (3, _rand_text(rng, 90))]
    d = tmp_path_factory.mktemp("ess")
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    out = q_dedup_exact_substring(spark, str(d))
    rows = {(r.doc_a, r.doc_b): r.shared_windows for r in out.collect()}
    assert (0, 1) in rows, rows
    assert rows[(0, 1)] >= 2


def test_exact_substring_matches_bruteforce(spark, sf_dir):
    """Third implementation: pure-Python local-min anchor fingerprints
    over the real sf0.001 corpus must reproduce the query's pair counts
    exactly (every-position window hash, strict-local-minimum anchors,
    distinct per doc, df in [2, 32], shared >= 2)."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.dedup import (
        _ESS_DF_CAP,
        _ESS_WIN,
        q_dedup_exact_substring,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    wins: dict[int, set] = {}
    for r in docs:
        t = r.text
        if len(t) < _ESS_WIN + 2:
            continue
        hs = [
            hashlib.md5(t[i : i + _ESS_WIN].encode()).hexdigest()
            for i in range(len(t) - _ESS_WIN + 1)
        ]
        fps = {
            hs[i]
            for i in range(1, len(hs) - 1)
            if hs[i] < hs[i - 1] and hs[i] < hs[i + 1]
        }
        if fps:
            wins[r.doc_id] = fps
    df_count: dict[str, int] = {}
    for fps in wins.values():
        for fp in fps:
            df_count[fp] = df_count.get(fp, 0) + 1
    keep = {fp for fp, c in df_count.items() if 2 <= c <= _ESS_DF_CAP}
    by_fp: dict[str, list] = {}
    for did, fps in wins.items():
        for fp in fps & keep:
            by_fp.setdefault(fp, []).append(did)
    pair_counts: dict[tuple, int] = {}
    for ids in by_fp.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                k = (ids[i], ids[j])
                pair_counts[k] = pair_counts.get(k, 0) + 1
    want = {k: v for k, v in pair_counts.items() if v >= 2}
    got = {
        (r.doc_a, r.doc_b): r.shared_windows
        for r in q_dedup_exact_substring(spark, sf_dir).collect()
    }
    # the query LIMITs to 100; at sf0.001 the full set fits
    assert got == want


# ---------------------------------------------------------------------------
# Markov transitions: probability-distribution identity
# ---------------------------------------------------------------------------


def test_markov_rows_are_distributions(spark, sf_dir):
    """Per src: sum(n) == n_src exactly (integer support accounting) and
    sum(p) == 1 within rounding slack; n_src totals must equal the total
    number of adjacent pairs = total events - distinct users with >= 1
    event."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.events import q_events_markov_transitions

    rows = q_events_markov_transitions(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    for src, rs in by_src.items():
        n_src = rs[0].n_src
        assert all(r.n_src == n_src for r in rs)
        assert sum(r.n for r in rs) == n_src
        assert sum(r.p for r in rs) == pytest.approx(1.0, abs=5e-6 * len(rs))
    ev = load_table(spark, sf_dir, "events")
    total_pairs = ev.count() - ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == total_pairs


# ---------------------------------------------------------------------------
# Gram matrix: PSD + independent trace
# ---------------------------------------------------------------------------


def test_gram_matrix_psd_and_trace(spark, sf_dir):
    """Reconstruct G from the upper triangle: it must be symmetric PSD
    (eigenvalues >= -1e-6) and its trace must equal the Frobenius sum of
    the embeddings computed independently in numpy from a collect."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import q_embedding_gram_matrix

    rows = q_embedding_gram_matrix(spark, sf_dir).collect()
    G = np.zeros((64, 64))
    for r in rows:
        G[r.i - 1, r.j - 1] = r.g
        G[r.j - 1, r.i - 1] = r.g
    evals = np.linalg.eigvalsh(G)
    assert evals.min() >= -1e-6
    X = np.stack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    assert np.trace(G) == pytest.approx((X * X).sum(), abs=64 * 5.1e-5)
