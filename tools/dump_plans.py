"""Regenerate PLANS.md — committed formatted physical plans for the headline
queries, with the plan property each is designed around. Run from repo root:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = [
    ("pricing_summary",
     "Flagship aggregate: predicate pushdown into the parquet scan, 7-of-11 "
     "column pruning, map-side partial aggregation, one agg shuffle; the "
     "reduced result moves to one partition for the final sort, so no "
     "range-sampling job re-runs the aggregate."),
    ("join_broadcast_dims",
     "Star join: every dimension arrives as BroadcastHashJoin — the fact "
     "table is never shuffled per-dim."),
    ("suppressed_agg",
     "QCEW disclosure aggregate: filter→agg→HAVING fused into one hash-agg "
     "pipeline with partial aggregation."),
    ("dedup_minhash_lsh",
     "Sub-quadratic LSH: candidate generation joins on band keys; verify "
     "narrows to candidate docs via broadcast semi-join — no corpus-width "
     "shuffle after signatures."),
    ("knn_ivf",
     "IVF ANN: cell assignment is a broadcast nested-loop over 10 centroids; "
     "search joins only within the query's cell."),
    ("geo_bbox_join",
     "Geo enrich: bbox range predicates push to the scan; nation dim "
     "broadcast; trig runs post-filter only."),
    ("seq_pack",
     "Sequence packing: ONE shard-local window (partitioned by source) "
     "whose hash partitioning is reused by the per-pack rollup — no global "
     "sort anywhere."),
    ("text_tfidf",
     "TF-IDF keywords: explode → two partial-agg shuffles (tf, df) → keyed "
     "equi-join; corpus size enters as a 1-row broadcast scalar, not a "
     "collect."),
    ("events_rollup_reagg",
     "Continuous aggregate: hourly answers re-aggregate the 10-min rollup "
     "(algebraic merge), never rescanning base events."),
    ("funnel_steps",
     "Conversion funnel: three min-aggs and two joins all keyed on "
     "user_id — the first groupBy's partitioning is reused end-to-end, "
     "per-step state shrinks monotonically."),
    ("profile_columns",
     "Column profiling: one scan, one wide agg row, constant-size stack "
     "unpivot — the multi-distinct expand happens in the partial agg."),
    ("decontaminate",
     "Benchmark decontamination: the bounded eval shingle set broadcasts; "
     "training shingles semi-join map-side — zero shuffle of the corpus "
     "side before the per-source rollup."),
    ("dedup_fuzzy",
     "Edit-distance linkage: equi-join on the 8-char block prefix (never "
     "cartesian), block-frequency cap bounds fan-out, Levenshtein runs "
     "codegen'd on candidates only."),
    ("ts_gapfill",
     "Gap fill: calendar spine GENERATED per series (sequence+explode), "
     "spine⋈observations keyed join, forward-fill window partitioned by "
     "series — no global sort, no scanned calendar table."),
    ("rank_global_twophase",
     "Exact global ranks without a serialized sort: range-exchange on the "
     "sort key, per-(group, range-partition) local row_number, tiny offset "
     "table broadcast back — parallelism scales with data, not with the "
     "5-value group key."),
    ("copurchase_pairs",
     "Market-basket mining: co-partitioned self-join on orderkey (pair "
     "fan-out bounded by basket size), partial-agg pair counts, global "
     "top-20 via TakeOrderedAndProject — a heap, never a full sort."),
    ("semdedup_lsh",
     "SemDeDup keep-decision: the cluster representative (vector included) "
     "rides a single min(struct) window over the LSH bucket — one bucket "
     "exchange, no rep join, no broadcast, O(n) comparisons."),
    ("merge_upsert",
     "MERGE INTO as a plan: one full-outer equi-shuffle join on the "
     "dimension key classifies update/insert/unchanged in a codegen'd "
     "projection — no broadcast (both sides fact-scale), no second pass."),
    ("regional_volume",
     "TPC-H Q5 topology: nation/region broadcast, fact-scale joins left to "
     "AQE, cross-dimension nationkey equality applied inside the join so "
     "non-matching pairs prune before the lineitem fan-in."),
    ("graph_pagerank",
     "Iterative superstep loop: ranks persisted per iteration, each step "
     "one equi-join (ranks⋈edges on src) + one dst aggregation — the "
     "Pregel shape in pure DataFrames, lineage bounded by persist."),
    ("sample_weighted",
     "Derandomized A-Res weighted sampling: md5-seeded keys computed "
     "map-side, global top-k via TakeOrderedAndProject — zero exchanges "
     "before the take."),
    ("dedup_sorted_neighborhood",
     "SNM blocking (r5 rework): global positions from deterministic "
     "prefix-bucket counts + per-bucket row_number — a pure function of "
     "the data, no range-boundary sampling, no checkpoint/materialized "
     "leaf; neighborhood join stays a keyed (pos+delta)=pos equi-join."),
    ("sketch_countmin_topk",
     "Count-Min heavy hitters: one partial-agg shuffle to per-key counts, "
     "the 4x256-counter sketch broadcasts back — per-partition sketches "
     "merge bucket-wise at cluster scale."),
    ("knn_pq_adc",
     "Product quantization + ADC: codebooks and the per-query LUT "
     "broadcast; the ADC scan joins the 4-codes-per-vector table on "
     "(subspace, code) — the corpus shuffle payload is codes, never the "
     "64-double vectors. Since r14 the codebook and assignment map are "
     "PROMOTED trained artifacts (io.trained_artifact): the plan shows "
     "LocalRelations where the training chain used to be — trained once "
     "per process, broadcast everywhere."),
    ("knn_ivfpq_rerank_sweep",
     "Refine-budget sweep (r14): ONE exact re-score of the ADC top-50 "
     "(queries x R broadcast side, one keyed join back to raw vectors) "
     "serves every swept R via rank cuts — the corpus is never "
     "re-scanned; recall measured flat in R, so R=10 ships."),
    ("quality_classifier_apply",
     "Trained quality classifier scoring (r14): the 257-row promoted "
     "model broadcasts into a map-side hashed-token join + one "
     "doc_id-keyed partial-agg reduce — margins are exact BIGINT dot "
     "products; the 100 TB scoring pass is one corpus scan."),
    ("dedup_keep_best",
     "Best-of-cluster keep policy (r14): the dedup_components keyed "
     "candidate join + CC label propagation, then one quality "
     "projection and one comp-keyed window whose partition size is the "
     "CLUSTER size — the dedup and quality passes compose in a single "
     "plan with no corpus-scale window."),
    ("cdc_diff_snapshots",
     "Snapshot diff (r6): ONE full-outer sort-merge join on the snapshot "
     "key classifies I/U/D in a codegen'd CASE; the audit is a 3-group "
     "partial agg — no window, no second pass over either snapshot."),
    ("sample_temperature",
     "Temperature-scaled domain quotas (r6): exact per-domain rank via "
     "(source, hash-bucket) windows — 256 even buckets per domain, never "
     "one-partition-per-domain — with quota and prefix-offset tables "
     "broadcast (bounded at domains x 256 rows by construction)."),
    ("embedding_quantize_int8",
     "Scalar int8 quantization (r6): posexplode map-side, two 64-group "
     "partial-agg shuffles, the 64-row scales table broadcast back — raw "
     "vectors never shuffle."),
    ("scd2_upsert",
     "Incremental SCD2 maintenance (r6): history window, batch compaction "
     "window, and close-out left join all keyed on user_id — one logical "
     "shuffle key end-to-end."),
    ("events_cep_sequence",
     "CEP adjacency (r6): one lead-window pass per user, pattern "
     "predicate map-side, rollup reuses the window partitioning — no "
     "self-join, no range blowup."),
    ("dedup_exact_substring",
     "Verbatim-run pairs (r7): content-defined local-min anchors over "
     "every-position window hashes, computed in ONE codegen HOF "
     "projection (no per-position shuffle); df-capped equi-join, the "
     "anchor table scope-cached once for its five consumers — never n², "
     "only 32-byte fingerprints shuffle."),
    ("sketch_quantile_hist",
     "Histogram quantile sketch (r7): the fact scan reduces to 64 "
     "additive counters in the partial-agg combiner; interpolation runs "
     "on the ~190-row merged frame; the exact-audit percentile twin "
     "joins by broadcast."),
    ("embedding_gram_matrix",
     "Distributed Gram matrix (r7): one BLAS dgemm per Arrow batch, "
     "2,080 upper-triangle partials per batch merged by keyed sum — "
     "shuffle volume independent of corpus size."),
    ("dsir_importance",
     "DSIR selection (r8): 256-bucket feature stats come back as a "
     "broadcast, per-doc weights attach map-side and reduce by doc_id — "
     "two corpus passes, one keyed shuffle, integer-exact weights."),
    ("layout_zorder_stats",
     "Z-order pruning audit (r8): one corpus scan fans out both layout "
     "assignments through an inline explode into a 128-key zone-map "
     "partial aggregation — no joins, no windows, no global sort."),
    ("tokenizer_bpe_merges",
     "BPE training (r8): pair stats via a lead window over the word-TYPE "
     "table; argmax pair broadcast; greedy left-to-right application via "
     "gaps-and-islands parity windows — corpus touched once."),
    ("sample_kcenter",
     "k-center coreset (r8): each round broadcasts the <=4-row chosen "
     "set over one corpus pass, keyed partial-agg min, two-phase "
     "TakeOrdered argmax — nothing corpus-sized collected."),
    ("dedup_embedding_cos",
     "Banded sign-LSH dedup (r9): b bands x r disjoint coordinate "
     "planes (occupancy ~16 per band-bucket to ~69B vectors), "
     "per-band keyed self-join, pair-DISTINCT before the verify "
     "joins — candidates <= bands x single-band volume, no corpus "
     "broadcast."),
    ("dedup_embedding_rp",
     "Random-hyperplane banded dedup (r9): md5-seeded Rademacher "
     "planes built at plan time, applied as ONE Arrow-batched int64 "
     "matmul over quantized vectors (exact dots, order-free, "
     "oracle-identical), so the plane supply — and the log2(n/16) "
     "width rule — never saturates; keys scope-cached so keygen runs "
     "once, then the same keyed per-band join + pair-distinct shape "
     "as the coordinate tier."),
    ("knn_lsh_banded",
     "Banded ANN serving (r9): exploded query band keys broadcast "
     "(b x |Q| rows, never the corpus); corpus probes by (band, key) "
     "equi-join map-side; any-band OR collapses duplicates via "
     "max(score)."),
    ("tokenizer_pack_pipeline",
     "Tokenizer->packing pipeline (r9): BPE segmentation computed on "
     "the word-TYPE table, instances join type sizes ONCE, packing "
     "consumes the doc-level aggregate — one shard-local window, zero "
     "re-tokenization."),
    ("dedup_components",
     "Alternating-star connected components (r9): Kiveris large/small-"
     "star rounds, each one keyed shuffle; convergence via ONE fused "
     "star-shape probe; input edges localCheckpointed once up front so "
     "the caller's pipeline never replays."),
    ("dedup_recall_eval",
     "Similarity-binned pair-recall of BOTH banded generators (r9): "
     "ground truth broadcasts a 200-vector eval slice against the "
     "corpus (|slice| x n, linear — never n^2 all-pairs); the "
     "generators under eval are the registry queries themselves; the "
     "curve certifies where sign-LSH recalls and where it is designed "
     "not to."),
    ("dedup_embedding_rp_target",
     "Recall-TARGETED banding (r10, r11 cost sweep): (bands, bits) "
     "derived from a (cosine threshold, recall floor) contract by the "
     "argmin of b(r)*(1 + n/2^(r+1)) over row widths — bits sit above "
     "the occupancy floor when that cuts candidate volume (~6x at "
     "test scales); same cached-Arrow-keygen + keyed per-band join + "
     "pair-distinct shape as the fixed-b tier, candidates ~n^1.33 "
     "with a swept constant (the priced recall guarantee)."),
    ("dedup_recall_target_eval",
     "Certification of the targeted tier (r10): linear eval-slice "
     "truth, candidate hits from the generator itself, binned recall "
     "with the DERIVED band count as a hashed output column — "
     "0.96-1.00 measured in the >=0.8 bin against a 0.9 floor at 4 "
     "scales under the swept config."),
    ("dedup_minhash_target",
     "The recall contract on the TEXT tier (r11): (bands, "
     "rows_per_band) derived from a (Jaccard threshold, recall floor) "
     "via 1-(1-s^r)^b with an occupancy-style background-suppression "
     "rule for r; the dedup_minhash_lsh plan family — exploded-"
     "shingle min-agg signatures, keyed band-bucket self-join, "
     "semi-join-narrowed Jaccard verify, zero broadcast hints on "
     "corpus-growing sides."),
    ("dedup_minhash_recall_eval",
     "Certification of the text tier (r11): bounded broadcast truth "
     "slice (|slice| x n shared-shingle join, the ONE hint), "
     "candidate hits from the generator, binned recall with BOTH "
     "derived scalars as hashed output columns — 0.98-0.99 measured "
     "in the >=0.8-Jaccard bin against a 0.9 floor at 4 scales."),
    ("semdedup_rp",
     "SemDeDup on the unlimited-plane RP substrate (r10): the "
     "clustering family rides the Arrow-matmul banded generator via "
     "cfg/keyfn pass-through — same mutual window, star CC, integer-"
     "exact centroid keep rule as the coordinate tier; substrate "
     "choice is config, not a rewrite."),
    ("stream_dedup_neardup",
     "Banded near-dup ingest on the wire (r10): one Arrow-batched "
     "signature UDF after a 32-way repartition of the single-"
     "partition replay source, crc32-bucketed seen-keys state "
     "(invocations bounded by bucket count, not key count), any-band "
     "OR folded after quiescence."),
]


def main() -> None:
    from jp_qcew_spark.plans.inspect import formatted_plan
    from jp_qcew_spark.queries import all_queries
    from jp_qcew_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master="local[8]",
                      shuffle_partitions=8)
    queries = all_queries()
    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — headline physical plans (auto-generated)",
        "",
        "Regenerate with `python tools/dump_plans.py`. These are the",
        "`explain('formatted')` plans the engine is designed around;",
        "`tests/test_plans.py` asserts their load-bearing properties so they",
        "can't regress silently.",
        "",
    ]
    for name, note in HEADLINERS:
        df = queries[name](spark, sf)
        out += [f"## {name}", "", note, "", "```",
                formatted_plan(df).rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
