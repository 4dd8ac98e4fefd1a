"""Independent invariants for the round-8 operators — a third
implementation or a mathematical identity per op, beyond the shared-logic
DuckDB oracle:

- DSIR importance: a planted target-only document must outrank every
  organic document (synthetic-corpus monotonicity), and on the real
  corpus the selected head must lean toward the target domain,
- label propagation: the label domain is closed, isolated nodes are
  fixed points, and majority self-agreement is stable,
- chunk overlap: pure-Python hashlib re-chunking reproduces every
  (chunk_id, n_tokens, signature) row exactly.
"""

from __future__ import annotations

import hashlib
import re

import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# dsir_importance
# ---------------------------------------------------------------------------


def test_dsir_planted_target_doc_ranks_first(spark, tmp_path_factory):
    """Monotonicity: a document made ENTIRELY of bigrams that occur only
    in the target slice must get the top importance weight — its every
    bucket probe hits a bucket where ct is high relative to cs, so its
    avg log-ratio dominates any document sharing mass with the raw
    pool."""
    from jp_qcew_spark.queries.curation import q_dsir_importance

    target_text = "alpha beta gamma delta " * 6
    rows = [(0, target_text.strip(), "en")]
    # raw-pool-only documents (never appear in target slice lang='en')
    for i in range(1, 9):
        rows.append((i, f"noise{i} filler{i} junk{i} pad{i} " * 6, "de"))
    # one more en doc that shares the raw pool's vocabulary: its buckets
    # carry raw mass, so it must rank below the pure-target doc
    rows.append((9, "noise1 filler1 junk1 pad1 " * 6, "en"))
    d = tmp_path_factory.mktemp("dsir")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = q_dsir_importance(spark, str(d)).collect()
    assert out[0].doc_id == 0, [(r.doc_id, r.qweight) for r in out]
    assert out[0].avg_logratio > 0


def test_dsir_head_leans_target_on_real_corpus(spark, sf_dir):
    """On the organic corpus the selected head must lean toward the
    target domain (that is DSIR's entire point): strictly more 'en' docs
    in the top-25 than the corpus base rate would put there."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.curation import q_dsir_importance

    out = q_dsir_importance(spark, sf_dir).collect()
    assert len(out) == 25
    n_en = sum(1 for r in out if r.lang == "en")
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("lang") == "en").count() / docs.count()
    )
    assert n_en / 25 > base, (n_en, base)


# ---------------------------------------------------------------------------
# graph_label_prop
# ---------------------------------------------------------------------------


def test_label_prop_domain_closed_and_isolated_fixed(spark, sf_dir):
    """Propagation can only ever assign a label that some seed carries
    (domain closure), and a node with no mutual edges has only its
    self-vote — it must keep its seed exactly."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.graph import q_graph_label_prop
    from jp_qcew_spark.queries.similarity import _mutual_edges

    out = q_graph_label_prop(spark, sf_dir).collect()
    seeds = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    domain = set(seeds.values())
    assert {r.final_label for r in out} <= domain
    assert all(r.seed_label == seeds[r.vec_id] for r in out)
    edges = _mutual_edges(spark, sf_dir).select("src", "dst").collect()
    connected = {r.src for r in edges} | {r.dst for r in edges}
    for r in out:
        if r.vec_id not in connected:
            assert r.changed == 0 and r.final_label == r.seed_label


def test_label_prop_every_node_reported_once(spark, sf_dir):
    """One row per embedding — propagation must not drop isolated nodes
    or duplicate contested ones."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.graph import q_graph_label_prop

    out = q_graph_label_prop(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(out) == n
    assert len({r.vec_id for r in out}) == n


# ---------------------------------------------------------------------------
# text_chunk_overlap
# ---------------------------------------------------------------------------


def test_chunk_overlap_matches_pure_python(spark, sf_dir):
    """Third implementation: hashlib + list slicing over the collected
    corpus reproduces every (doc_id, chunk_id, n_tokens, chunk_sig) row
    the query emits — grid arithmetic, clamped tail, and signature."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.text import (
        _OVL_LEN,
        _OVL_STRIDE,
        q_text_chunk_overlap,
    )

    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_sig)
        for r in q_text_chunk_overlap(spark, sf_dir).collect()
    }
    want = {}
    for r in load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect():
        if r.text is None or not r.text.strip():
            continue
        toks = re.split(r"\s+", r.text.strip().lower())
        k = 0
        while k * _OVL_STRIDE < len(toks):
            c = toks[k * _OVL_STRIDE : k * _OVL_STRIDE + _OVL_LEN]
            sig = hashlib.md5(" ".join(c).encode()).hexdigest()[:8]
            want[(r.doc_id, k)] = (len(c), sig)
            k += 1
    assert got == want


def test_chunk_overlap_covers_every_token(spark, sf_dir):
    """Coverage identity: chunk token counts, corrected for the fixed
    8-token overlap between consecutive chunks, sum back to each
    document's token count — no token dropped, none double-dropped."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.text import (
        _OVL_LEN,
        _OVL_STRIDE,
        q_text_chunk_overlap,
    )

    per_doc: dict[int, list] = {}
    for r in q_text_chunk_overlap(spark, sf_dir).collect():
        per_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    ov = _OVL_LEN - _OVL_STRIDE
    for d in docs:
        if d.text is None or not d.text.strip():
            continue
        n = len(re.split(r"\s+", d.text.strip().lower()))
        chunks = sorted(per_doc[d.doc_id])
        total = sum(c for _, c in chunks)
        # consecutive chunks overlap by (prev_len - stride); full chunks
        # give the designed overlap of 8, the clamped tail gives less
        assert all(
            chunks[i][1] - _OVL_STRIDE <= ov
            for i in range(len(chunks) - 1)
        )
        covered = total - sum(
            max(0, chunks[i][1] - _OVL_STRIDE)
            for i in range(len(chunks) - 1)
        )
        assert covered == n, (d.doc_id, covered, n)


# ---------------------------------------------------------------------------
# layout_zorder_stats
# ---------------------------------------------------------------------------


def _py_interleave(a: int, b: int) -> int:
    z = 0
    for i in range(8):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_matches_pure_python_zone_maps(spark, sf_dir):
    """Third implementation: bit-shift interleaving + dict zone maps over
    the collected events reproduce both layouts' file/scan/match counts
    exactly (the query's floor-div+mod arithmetic is just a portable
    spelling of the shifts)."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.warehouse import (
        _Z_FILE_CELLS,
        _Z_RECT,
        q_layout_zorder_stats,
    )

    d1_lo, d1_hi, d2_lo, d2_hi = _Z_RECT
    got = {r.layout: r for r in q_layout_zorder_stats(spark, sf_dir).collect()}
    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "value"
    ).collect()
    zones: dict[tuple, list] = {}
    for r in rows:
        d1 = r.user_id % 256
        d2 = min(255, int(r.value // 2.0))
        hit = d1_lo <= d1 <= d1_hi and d2_lo <= d2 <= d2_hi
        for layout, key in (
            ("zorder", _py_interleave(d1, d2)),
            ("linear", d1 * 256 + d2),
        ):
            z = zones.setdefault(
                (layout, key // _Z_FILE_CELLS), [0, 256, -1, 256, -1, 0]
            )
            z[0] += 1
            z[1] = min(z[1], d1)
            z[2] = max(z[2], d1)
            z[3] = min(z[3], d2)
            z[4] = max(z[4], d2)
            z[5] += hit
    for layout in ("zorder", "linear"):
        files = {k[1]: v for k, v in zones.items() if k[0] == layout}
        scanned = {
            f: v
            for f, v in files.items()
            if v[2] >= d1_lo and v[1] <= d1_hi and v[4] >= d2_lo and v[3] <= d2_hi
        }
        assert got[layout].n_files == len(files)
        assert got[layout].n_files_scanned == len(scanned)
        assert got[layout].n_rows_scanned == sum(v[0] for v in scanned.values())
        assert got[layout].n_rows_matched == sum(v[5] for v in files.values())


def test_zorder_beats_linear_on_the_2d_rect(spark, sf_dir):
    """The reason the operator exists: for a 2-D rectangle, z-order zone
    maps must scan no more rows than the single-key layout, and every
    matching row must be inside scanned files in both layouts."""
    from jp_qcew_spark.queries.warehouse import q_layout_zorder_stats

    got = {r.layout: r for r in q_layout_zorder_stats(spark, sf_dir).collect()}
    assert got["zorder"].n_rows_scanned <= got["linear"].n_rows_scanned
    for r in got.values():
        assert r.n_rows_matched <= r.n_rows_scanned
    assert got["zorder"].n_rows_matched == got["linear"].n_rows_matched


# ---------------------------------------------------------------------------
# tokenizer_bpe_merges
# ---------------------------------------------------------------------------


def _py_bpe(word_freqs: dict, rounds: int = 2):
    """Pure-Python reference BPE (Sennrich et al. 2016): pair stats on
    word types weighted by frequency, lexicographic tie-break, greedy
    left-to-right merge application."""
    seqs = {w: list(w) for w in word_freqs}
    out = []
    for _ in range(rounds):
        counts: dict = {}
        for w, f in word_freqs.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        (l, r), pc = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w in seqs:
            s, new, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    new.append(l + r)
                    i += 2
                else:
                    new.append(s[i])
                    i += 1
            seqs[w] = new
        out.append((l, r, pc, sum(len(s) for s in seqs.values())))
    return out


def test_bpe_matches_pure_python(spark, sf_dir):
    """Third implementation: the scan-based reference BPE over the
    collected word frequencies reproduces the query's merge table exactly
    — argmax pair, tie-break, weighted counts, and the post-merge symbol
    totals (which only agree if the islands-parity application matches
    the left-to-right scan on every overlapping run)."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.training import q_tokenizer_bpe_merges

    got = [
        (r.left_sym, r.right_sym, r.pair_freq, r.n_symbols_after)
        for r in q_tokenizer_bpe_merges(spark, sf_dir).collect()
    ]
    freqs: dict = {}
    for row in load_table(spark, sf_dir, "documents").select("text").collect():
        if row.text is None or not row.text.strip():
            continue
        for w in re.split(r"\s+", row.text.strip().lower()):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    assert got == _py_bpe(freqs)


def test_bpe_islands_parity_on_overlapping_runs(spark, tmp_path_factory):
    """The case that breaks a regex-replace 'apply': back-to-back
    matches. A corpus of 'aaaa' (3 overlapping 'a a' matches) must merge
    positions (0,1) and (2,3) — greedy left-to-right — leaving 2 symbols,
    and 'aaa' leaves 2 ('aa','a'), so the post-merge total across the two
    types is 4."""
    from jp_qcew_spark.queries.training import q_tokenizer_bpe_merges

    d = tmp_path_factory.mktemp("bpe")
    spark.createDataFrame(
        [(0, "aaaa aaa aaaa"), (1, "aaaa")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = q_tokenizer_bpe_merges(spark, str(d)).collect()
    r1 = rows[0]
    assert (r1.left_sym, r1.right_sym) == ("a", "a")
    # types: 'aaaa' (freq 3 -> 3 pair occurrences each) and 'aaa' (freq 1)
    assert r1.pair_freq == 3 * 3 + 1 * 2
    # after round 1: 'aaaa' -> [aa, aa] (2), 'aaa' -> [aa, a] (2)
    assert r1.n_symbols_after == 4
    r2 = rows[1]
    assert (r2.left_sym, r2.right_sym) == ("aa", "aa")
    # 'aaaa' -> [aaaa] (1), 'aaa' unchanged (2)
    assert r2.n_symbols_after == 3


# ---------------------------------------------------------------------------
# sample_kcenter
# ---------------------------------------------------------------------------


def test_kcenter_matches_pure_python(spark, sf_dir):
    """Third implementation: numpy farthest-point-first over the collected
    embeddings reproduces the selected centers and their coverage radii
    (on the same rounded-6 cosine contract)."""
    import numpy as np

    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.similarity import q_sample_kcenter

    got = [
        (r.sel_round, r.vec_id, r.sel_dist)
        for r in q_sample_kcenter(spark, sf_dir).collect()
    ]
    rows = sorted(
        (r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [i for i, _ in rows]
    X = np.stack([v for _, v in rows])
    norm = np.sqrt((X * X).sum(axis=1))

    def cos(i, j):
        return round(float(X[i] @ X[j] / (norm[i] * norm[j])), 6)

    chosen = [0]  # min vec_id is first after the sort
    want = [(0, ids[0], 0.0)]
    for rnd in (1, 2, 3):
        dmin = [
            min(1.0 - cos(i, c) for c in chosen) for i in range(len(ids))
        ]
        far = min(range(len(ids)), key=lambda i: (-dmin[i], ids[i]))
        want.append((rnd, ids[far], round(dmin[far], 6)))
        chosen.append(far)
    assert got == want


def test_kcenter_radii_decrease(spark, sf_dir):
    """Coverage radii are non-increasing by construction: each added
    center can only shrink every vector's nearest-center distance."""
    from jp_qcew_spark.queries.similarity import q_sample_kcenter

    rows = q_sample_kcenter(spark, sf_dir).collect()
    radii = [r.sel_dist for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len({r.vec_id for r in rows}) == len(rows)


def test_bpe_apply_matches_pure_python(spark, sf_dir):
    """Third implementation: run the reference scan-based BPE (train on
    word types, apply greedily) and recompute every document's word /
    char / BPE-symbol totals and compression ratio from the final type
    segmentation — must reproduce the query's top-30 exactly."""
    from jp_qcew_spark.io import load_table
    from jp_qcew_spark.queries.training import q_tokenizer_bpe_apply

    got = [
        (r.doc_id, r.n_words, r.n_chars, r.n_tokens_bpe, r.compression)
        for r in q_tokenizer_bpe_apply(spark, sf_dir).collect()
    ]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    inst: dict[int, list] = {}
    freqs: dict = {}
    for row in docs:
        if row.text is None or not row.text.strip():
            continue
        ws = [w for w in re.split(r"\s+", row.text.strip().lower()) if w]
        inst[row.doc_id] = ws
        for w in ws:
            freqs[w] = freqs.get(w, 0) + 1
    # reuse the reference trainer, then take the FINAL segmentation
    seqs = {w: list(w) for w in freqs}
    for _ in range(2):
        counts: dict = {}
        for w, f in freqs.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        (l, r), _pc = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w in seqs:
            s, new, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    new.append(l + r)
                    i += 2
                else:
                    new.append(s[i])
                    i += 1
            seqs[w] = new
    want = []
    for doc_id, ws in inst.items():
        nw = len(ws)
        nc = sum(len(w) for w in ws)
        ns = sum(len(seqs[w]) for w in ws)
        want.append((doc_id, nw, nc, ns, round(ns / nc, 6)))
    want.sort(key=lambda t: (t[4], t[0]))
    assert got == want[:30]
