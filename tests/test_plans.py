"""Plan-shape regression tests (jp_qcew_spark.plans.inspect).

Results being right is necessary; the PLAN being right is what survives a
100× scale-up. Each test pins a designed-in property — pushdown, pruning,
broadcast strategy, no cartesian blowups, bounded shuffle count — so an
efficiency regression fails CI at sf0.001.
"""

from __future__ import annotations

import re

import pytest

from jp_qcew_spark.plans import inspect as I
from jp_qcew_spark.queries.core import q_pricing_summary
from jp_qcew_spark.queries.dedup import q_dedup_minhash_lsh
from jp_qcew_spark.queries.geo import q_geo_bbox_join
from jp_qcew_spark.queries.joins import QUERIES as JOIN_QUERIES
from jp_qcew_spark.queries.similarity import q_knn_bruteforce


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    """The flagship scan must push the shipdate predicate into parquet and
    read only the 7 referenced columns of lineitem's 11."""
    df = q_pricing_summary(spark, sf_dir)
    assert any("l_shipdate" in f for f in I.pushed_filters(df))
    (schema,) = I.read_schemas(df)
    assert set(schema) <= {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # one shuffle for the aggregate, one for the final global sort — no more
    assert I.count_exchanges(df) <= 2
    # map-side combine: the shuffle carries partial agg states, not raw rows
    assert I.has_partial_aggregation(df)
    # codegen ids materialize once stages execute (AQE)
    df.collect()
    assert I.wholestage_codegen_spans(df) >= 1


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region: every dim must come in
    as a broadcast-hash join; a sort-merge join here would shuffle the fact
    table once per dim at 100 TB."""
    df = JOIN_QUERIES["join_broadcast_dims"](spark, sf_dir)
    assert I.broadcast_hash_joins(df) >= 4
    assert I.sort_merge_joins(df) == 0
    assert not I.has_cartesian_product(df)
    # every scan is column-pruned: no scan reads more than 4 columns
    assert all(len(s) <= 4 for s in I.read_schemas(df))


def test_knn_bruteforce_no_cartesian(spark, sf_dir):
    """The query side is broadcast, so the non-equi (!=) join must be a
    broadcast nested-loop over the candidate scan — never CartesianProduct."""
    df = q_knn_bruteforce(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert any("vec_id" in f for f in I.pushed_filters(df))


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """Sub-quadratic contract: candidate generation and verify are keyed
    joins (band-key / doc-id / shingle) — the plan may never contain an
    unkeyed product."""
    assert not I.has_cartesian_product(q_dedup_minhash_lsh(spark, sf_dir))


def test_dedup_family_no_unbounded_broadcast_hints(spark, sf_dir):
    """No broadcast side in the dedup family may grow with corpus size.

    Per-doc tables (shingle-set sizes, candidate shingle sets, near-dup
    loser lists) are one row (or more) per document — multi-GB at 100 TB —
    so they must reach the join as plain shuffle sides (AQE can still
    broadcast them when small). Round 3 closed the last exception: the
    MinHash-LSH verify chain (cand_docs/cand/exc) is candidate-proportional,
    which an adversarial/templated corpus makes corpus-proportional, so it
    carries no hints either."""
    from jp_qcew_spark.queries.dedup import (
        q_dedup_char_ngram,
        q_dedup_jaccard_pairs,
    )
    from jp_qcew_spark.queries.llm_prep import q_llm_prep_pipeline

    from jp_qcew_spark.queries.wages_ts import q_wages_series

    for q in (
        q_dedup_jaccard_pairs,
        q_dedup_char_ngram,
        q_dedup_minhash_lsh,
        q_llm_prep_pipeline,
    ):
        assert I.broadcast_hint_count(q(spark, sf_dir)) == 0, q.__name__
    # wages fact x customer must NOT hint (customer grows with the corpus);
    # only the bounded nation/region dims may (enrich_wages adds exactly 2)
    assert I.broadcast_hint_count(q_wages_series(spark, sf_dir)) <= 2


def test_topk_partial_then_final(spark, sf_dir):
    """q_topk_per_group must rank in two phases: a (segment, partition-id)
    window that spreads the heavy sort across all cores, then a final window
    over the surviving ≤ 3·n_partitions rows — never one 5-task global sort
    of the fact table."""
    import re

    from jp_qcew_spark.queries.windows import q_topk_per_group

    df = q_topk_per_group(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) >= 2
    assert "SPARK_PARTITION_ID" in plan.upper()


def test_seq_pack_shard_local_window(spark, sf_dir):
    """Packing must never need a global sort: the window partitions by the
    shard key (source), and the per-pack rollup reuses that partitioning
    (source is a prefix of the grouping key), so the whole query is one
    shuffle plus the final presentation sort."""
    from jp_qcew_spark.queries.training import q_seq_pack

    df = q_seq_pack(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert not I.has_cartesian_product(df)
    # the window's partition spec carries source — a partitionBy-less
    # global window would print windowspecdefinition(doc_id ...) with no
    # leading partition column
    assert re.search(r"windowspecdefinition\(source#\d+,", plan)
    assert I.count_exchanges(df) <= 2, plan


def test_training_scans_pruned(spark, sf_dir):
    """Every training-tier scan of `documents` must read only the columns
    it uses — a full-width scan of a 100 TB text corpus to compute a
    3-column signal is the canonical pruning failure."""
    from jp_qcew_spark.queries.training import (
        q_stratified_sample,
        q_text_repetition,
    )

    for q, want in (
        (q_text_repetition, {"doc_id", "text"}),
        (q_stratified_sample, {"lang", "text"}),
    ):
        (schema,) = I.read_schemas(q(spark, sf_dir))
        assert set(schema) <= want, q.__name__


def test_tfidf_no_cartesian_and_bounded_broadcast(spark, sf_dir):
    """The corpus-size scalar joins in as a 1-row broadcast (never a
    collect, never a cartesian over data-sized inputs); tf×df is a keyed
    equi-join."""
    from jp_qcew_spark.queries.training import q_text_tfidf

    df = q_text_tfidf(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    # exactly the one deliberate hint (the 1-row n_corpus scalar)
    assert I.broadcast_hint_count(df) <= 1


def test_curation_plan_shapes(spark, sf_dir):
    """Curation tier scale contracts: only BOUNDED sides carry broadcast
    hints (the eval shingle set, the 1-row domain minimum, the ≤m-position
    bloom set); the corpus-proportional fingerprint index in incremental
    dedup must reach its join unhinted; every documents scan is pruned."""
    from jp_qcew_spark.queries.curation import (
        q_bloom_prefilter,
        q_decontaminate,
        q_dedup_incremental,
        q_domain_mix,
        q_scrub_denylist,
    )

    df = q_decontaminate(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    # the eval shingle set is a FRACTION of the corpus in this fixture
    # (doc_id % 31), so no forced hint — AQE broadcasts it at runtime
    # when genuinely small (late-r11 review)
    assert I.broadcast_hint_count(df) == 0

    df = q_dedup_incremental(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0  # corpus-sized fp index: no hint

    df = q_domain_mix(spark, sf_dir)
    assert I.broadcast_hint_count(df) <= 1  # the 1-row global minimum
    assert all(set(s) <= {"source", "text"} for s in I.read_schemas(df))

    df = q_bloom_prefilter(spark, sf_dir)
    # the bloom set is an aggregate bounded by m positions — broadcast is
    # correct; the dim scan must push the segment filter and prune columns
    assert I.broadcast_hint_count(df) <= 1
    assert any("c_mktsegment" in f for f in I.pushed_filters(df))
    assert any(
        set(s) <= {"c_custkey", "c_mktsegment"} for s in I.read_schemas(df)
    )

    df = q_scrub_denylist(spark, sf_dir)
    (schema,) = I.read_schemas(df)
    assert set(schema) <= {"lang", "text"}
    # one agg shuffle + final sort + the conditional scan-widening
    # exchange (io.widen_scan) that fires at test scale
    assert I.count_exchanges(df) <= 3


def test_geo_join_broadcasts_nation(spark, sf_dir):
    df = q_geo_bbox_join(spark, sf_dir)
    assert I.broadcast_hash_joins(df) >= 1
    assert I.sort_merge_joins(df) == 0


def test_asof_join_shape(spark, sf_dir):
    """as-of join compiles to keyed join + bounded window — no product."""
    df = JOIN_QUERIES["join_asof"](spark, sf_dir)
    assert not I.has_cartesian_product(df)


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both join sides on the key lets the join run with ZERO
    Exchange operators — the co-located-join strategy for repeated fact-fact
    joins at 100 TB (SURVEY §4: 'bucketing for co-located joins')."""
    import os

    from jp_qcew_spark.io import load_table
    from pyspark.sql import functions as F

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for name, df, key in (("li_b", li, "l_orderkey"), ("o_b", o, "o_orderkey")):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(wh, name))
            .saveAsTable(name)
        )
    joined = (
        spark.table("li_b")
        .join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity"))
    )
    # autoBroadcast would hide the point — disable for the assertion
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert I.sort_merge_joins(joined) >= 1
        assert I.count_exchanges(joined) == 0  # bucket layout == join layout
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_dynamic_partition_pruning_on_qcew(spark, tmp_path_factory):
    """Joining the (year, qtr)-partitioned QCEW output against a filtered dim
    must inject a dynamic-partition-pruning subquery into the fact scan —
    at 100 TB this is the difference between scanning one quarter and
    scanning two decades."""
    import random

    from jp_qcew_spark.operators.etl import run_etl
    from jp_qcew_spark.plans.inspect import formatted_plan
    from pyspark.sql import functions as F
    from tests.qcew_fixtures import gen_qcew_tree

    base = str(tmp_path_factory.mktemp("qcew_dpp"))
    root = gen_qcew_tree(base, n_lines=120)
    out = str(tmp_path_factory.mktemp("qcew_dpp_out"))
    run_etl(spark, root + "/*/*", out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(2015, "base"), (2016, "comp")], "dim_year int, tag string"
    ).filter(F.col("tag") == "base")
    joined = fact.join(dim, fact.file_year == dim.dim_year).groupBy("tag").count()
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan


def test_qcew_decode_slices_each_chunk_once(spark, tmp_path):
    """The fixed-width decode is one Project whose 121 fields slice a few
    chunks of the raw line (at most 128 chars each, tiling the 1,060-char
    record), not 121 flat slices: subexpression elimination then walks a
    line once per chunk instead of once per field from char 0."""
    import re

    from jp_qcew_spark.schema.qcew_fields import FIELDS, RECORD_WIDTH
    from jp_qcew_spark.sources.fixed_width import decode_qcew, read_qcew_text

    p = tmp_path / "one.txt"
    p.write_text(" " * RECORD_WIDTH + "\n", encoding="latin-1")
    plan = decode_qcew(read_qcew_text(spark, str(p)))._jdf.queryExecution()
    project = plan.optimizedPlan()
    assert project.nodeName() == "Project"
    exprs = project.projectList().mkString("\n")
    slices = re.findall(r"substring\(value#\d+, (\d+), (\d+)\)", exprs)
    assert len(slices) == len(FIELDS)
    chunks = sorted({(int(g), int(n)) for g, n in slices})
    assert len(chunks) <= 10 and all(n <= 128 for _, n in chunks)
    starts = [1] + [g + n for g, n in chunks]
    assert [g for g, _ in chunks] == starts[:-1]
    assert starts[-1] == RECORD_WIDTH + 1


def test_fuzzy_dedup_blocked_join(spark, sf_dir):
    """Edit-distance linkage must stay BLOCKED: an equi-join on the block
    prefix (never cartesian), no forced broadcasts, and the block-frequency
    cap keyed off the same scan."""
    from jp_qcew_spark.queries.dedup import q_dedup_fuzzy

    df = q_dedup_fuzzy(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    assert all(set(s) <= {"doc_id", "text"} for s in I.read_schemas(df))


def test_ts_gapfill_generated_spine(spark, sf_dir):
    """The calendar spine is GENERATED (per-series sequence), not scanned:
    events is read once for observations and once (aggregated) for spans —
    both scans pruned to (event_type, ts, value); the fill window partitions
    by series so no global single-task sort exists."""
    from jp_qcew_spark.queries.wages_ts import q_ts_gapfill

    df = q_ts_gapfill(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    for s in I.read_schemas(df):
        assert set(s) <= {"event_type", "ts", "value"}


def test_copurchase_topk_is_heap_not_sort(spark, sf_dir):
    """Global top-20 pairs must compile to TakeOrderedAndProject (per-
    partition heap + driver merge), never a full global Sort of the pair
    counts; the pair self-join must stay an equi-join on orderkey."""
    from jp_qcew_spark.queries.warehouse import q_copurchase_pairs

    df = q_copurchase_pairs(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert not I.has_cartesian_product(df)


def test_rank_global_twophase_parallel_sort(spark, sf_dir):
    """The two-phase rank must range-partition on the sort key — the sort
    runs across n_priorities x n_range_partitions groups, never 5
    serialized whole-table sort tasks — and the offset join must be a
    broadcast (the offsets table is n_priorities x n_partitions rows)."""
    from jp_qcew_spark.queries.windows import q_rank_global_twophase

    df = q_rank_global_twophase(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert re.search(r"rangepartitioning", plan, re.IGNORECASE)
    assert I.broadcast_hash_joins(df) >= 1
    assert I.sort_merge_joins(df) == 0


def test_regional_volume_broadcasts_small_dims(spark, sf_dir):
    """Q5-shaped star join: nation and region must arrive as broadcasts;
    no cartesian products anywhere in the 6-table tree."""
    from jp_qcew_spark.queries.joins import q_regional_volume

    df = q_regional_volume(spark, sf_dir)
    assert I.broadcast_hash_joins(df) >= 2
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)


def test_sample_weighted_is_heap_selection(spark, sf_dir):
    """A-Res weighted sampling must be a map-side key computation plus
    TakeOrderedAndProject — zero shuffles before the take."""
    from jp_qcew_spark.queries.curation import q_sample_weighted

    df = q_sample_weighted(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert I.count_exchanges(df) == 0


def test_pagerank_superstep_shape(spark, sf_dir):
    """Each PageRank superstep joins ranks to edges and re-aggregates on
    dst; the loop must stay equi-join-only (no cartesian, no nested loop
    over the node set)."""
    from jp_qcew_spark.queries.graph import q_graph_pagerank

    df = q_graph_pagerank(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)


def test_kmeans_bounded_broadcasts_only(spark, sf_dir):
    """Each Lloyd iteration may broadcast ONLY the k-row centroid table —
    bounded by k, never by the corpus. 2 iterations + final assign = 3
    hints; the vector side must reach every join as a plain scan side."""
    from jp_qcew_spark.queries.similarity import q_kmeans_cluster

    df = q_kmeans_cluster(spark, sf_dir)
    assert I.broadcast_hint_count(df) <= 3


def test_geo_grid_join_keyed_not_cartesian(spark, sf_dir):
    """The spatial join must reach execution as a keyed equi-join on cell
    id — never a cartesian distance filter — and neither point set may
    carry a broadcast hint (both grow with the corpus)."""
    from jp_qcew_spark.queries.geo import q_geo_grid_join

    df = q_geo_grid_join(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0


def test_semdedup_one_bucket_shuffle_no_joins(spark, sf_dir):
    """SemDeDup's representative comparison must ride the bucket WINDOW
    (min(struct(vec_id, v))), never a second join or a corpus-scale
    broadcast: one bucket exchange + one label agg + the presentation
    sort — plus the conditional scan-widening exchange (io.widen_scan via
    _vecs) that fires at test scale, nothing else."""
    from jp_qcew_spark.queries.similarity import q_semdedup_lsh

    df = q_semdedup_lsh(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    assert I.count_exchanges(df) <= 4


def test_merge_upsert_single_keyed_join(spark, sf_dir):
    """MERGE = one full-outer equi-join on the dimension key: both sides
    are fact-scale so no broadcast hint may appear, classification is a
    projection (no extra join), and each scan is pruned to the columns
    the merge touches."""
    from jp_qcew_spark.queries.warehouse import q_merge_upsert

    df = q_merge_upsert(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    assert I.has_partial_aggregation(df)
    assert all(len(s) <= 3 for s in I.read_schemas(df))


def test_quality_band_stats_broadcast_only(spark, sf_dir):
    """The percentile thresholds must come back over the fact scan as a
    1-row broadcast (the histogram_bins stats shape) — exactly one
    broadcast hint, no cartesian, and a pruned 2-column documents scan."""
    from jp_qcew_spark.queries.curation import q_quality_percentile_band

    df = q_quality_percentile_band(spark, sf_dir)
    assert I.broadcast_hint_count(df) == 1
    assert not I.has_cartesian_product(df)
    assert all(set(s) <= {"source", "n_chars"} for s in I.read_schemas(df))


def test_dedup_passages_fingerprint_keyed(spark, sf_dir):
    """Passage dedup must shuffle md5 fingerprints, not passage text, and
    stay equi-keyed end-to-end: no cartesian, map-side partial counts, and
    a documents scan pruned to (doc_id, source, text)."""
    from jp_qcew_spark.queries.dedup import q_dedup_passages

    df = q_dedup_passages(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    assert all(set(s) <= {"doc_id", "source", "text"} for s in I.read_schemas(df))


def test_window_range_frame_reuses_user_partitioning(spark, sf_dir):
    """The RANGE-frame window shuffles once on user_id; the peak rollup
    groups on the SAME key, so its aggregation must reuse that
    partitioning — one data exchange plus the presentation sort, no
    second user_id shuffle."""
    from jp_qcew_spark.queries.windows import q_window_range_frame

    df = q_window_range_frame(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.count_exchanges(df) <= 2


def test_text_entropy_single_stage_codegen(spark, sf_dir):
    """Entropy is one map-side projection: no shuffle before the
    presentation sort, no join, and the 26-letter histogram must COMPILE —
    the original higher-order-lambda form ran interpreted (25 s vs 1.6 s
    at sf0.1) and an oversized inlined expression falls out of codegen the
    same way. Executing and counting codegen spans pins both cliffs."""
    from jp_qcew_spark.queries.text import q_text_entropy

    df = q_text_entropy(spark, sf_dir)
    # at most two exchanges: the final global orderBy, plus the
    # conditional round-robin repartition that fires only when the file
    # index yields fewer splits than cores (always true at test scale)
    assert I.count_exchanges(df) <= 2
    assert I.sort_merge_joins(df) == 0
    assert not I.has_cartesian_product(df)
    (schema,) = I.read_schemas(df)
    assert set(schema) <= {"doc_id", "text"}
    df.collect()
    assert I.wholestage_codegen_spans(df) >= 1


def test_text_lm_score_bounded_broadcast_only(spark, sf_dir):
    """The LM model join carries exactly one broadcast — the 1-ROW corpus
    total onto the vocab (the bounded scalar pattern); the vocab model
    itself must NOT be hinted (corpus-proportional — the r2 minhash
    lesson), and the token⋈model join stays equi-keyed (no cartesian)."""
    from jp_qcew_spark.queries.text import q_text_lm_score

    df = q_text_lm_score(spark, sf_dir)
    assert I.broadcast_hint_count(df) == 1
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    assert all(set(s) <= {"doc_id", "text"} for s in I.read_schemas(df))


def test_outlier_mad_broadcasts_ktables(spark, sf_dir):
    """Median/MAD tables are k-row (one per event_type): both joins back
    onto events must come in as broadcast-hash picked by the OPTIMIZER
    (no hints — the stats tables are small by construction), with no
    cartesian and pruned (event_type, value) scans."""
    from jp_qcew_spark.queries.warehouse import q_outlier_mad

    df = q_outlier_mad(spark, sf_dir)
    df.collect()  # AQE finalizes join strategies
    assert I.broadcast_hint_count(df) == 0
    assert I.broadcast_hash_joins(df) >= 2
    assert not I.has_cartesian_product(df)
    assert all(set(s) <= {"event_type", "value"} for s in I.read_schemas(df))


def test_widen_scan_threshold(spark, tmp_path):
    """widen_scan must fire only when BOTH conditions hold: the scan is
    under-split AND big enough to amortize the exchange. A small file
    keeps its original plan (no exchange — the sub-second-anchor
    regression this threshold fixed); a >4 MB single file gains exactly
    one round-robin exchange."""
    import pyspark.sql.functions as F

    from jp_qcew_spark.io import widen_scan

    small = str(tmp_path / "small.parquet")
    spark.range(100).write.parquet(small)
    df_small = widen_scan(spark.read.parquet(small))
    assert I.count_exchanges(df_small) == 0

    big = str(tmp_path / "big.parquet")
    # incompressible payload so the single file clears _WIDEN_MIN_BYTES
    spark.range(40_000).select(
        "id", F.md5(F.col("id").cast("string")).alias("a"),
        F.sha2(F.col("id").cast("string"), 256).alias("b"),
        F.sha2(F.col("id").cast("string"), 512).alias("c"),
    ).coalesce(1).write.parquet(big)
    import os as _os

    nbytes = sum(
        _os.path.getsize(_os.path.join(big, f))
        for f in _os.listdir(big)
        if f.endswith(".parquet")
    )
    df_big = widen_scan(spark.read.parquet(big))
    if nbytes >= 4 << 20:
        assert I.count_exchanges(df_big) == 1
    else:  # payload compressed below the gate — then it must NOT widen
        assert I.count_exchanges(df_big) == 0


def test_graph_triangles_keyed_joins_only(spark, sf_dir):
    """Triangle enumeration must stay keyed end-to-end: the co-occurrence
    self-join (orderkey), the wedge join (b), and the closing join (a, c)
    are all equi-joins — an unkeyed product here is the O(n^3) cliff; the
    support filter rides a partial-agg'd groupBy."""
    from jp_qcew_spark.queries.graph import q_graph_triangles

    df = q_graph_triangles(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    assert all(
        set(s) <= {"l_orderkey", "l_suppkey"} for s in I.read_schemas(df)
    )


def test_snm_no_cartesian_bounded_broadcast(spark, sf_dir):
    """Sorted-neighborhood: the (pos+delta)=pos neighborhood join is a
    keyed equi-join (never a range/cartesian product), and the only
    broadcast hint is the tiny bucket-offsets table (≤ alphabet^prefix
    rows by construction) — it appears once per side of the self-join,
    so the hint count is exactly 2. The plan must read straight from the
    parquet scan: no checkpoint/materialized-RDD leaf (the r4
    localCheckpoint was a full-corpus materialization — a scale-killer —
    replaced by deterministic prefix-bucket positions in r5)."""
    from jp_qcew_spark.queries.dedup import q_dedup_sorted_neighborhood

    df = q_dedup_sorted_neighborhood(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) <= 2
    assert all(set(s) <= {"doc_id", "text"} for s in I.read_schemas(df))
    plan = I.formatted_plan(df)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_join_asof_nearest_keyed(spark, sf_dir):
    """Nearest as-of: the user_id equi-join keys the shuffle (no product),
    and both event scans prune to the referenced columns."""
    from jp_qcew_spark.queries.joins import QUERIES as JQ

    df = JQ["join_asof_nearest"](spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert all(
        set(s) <= {"event_id", "user_id", "ts", "value", "event_type"}
        for s in I.read_schemas(df)
    )


def test_countmin_broadcasts_sketch_no_cartesian(spark, sf_dir):
    """Count-Min: the 4×256-row sketch table is the broadcast side of the
    estimate join (never the key-cardinality side), the probe join is a
    keyed equi-join on (j, b), and the scan prunes to the single key
    column."""
    from jp_qcew_spark.queries.sketches import q_sketch_countmin_topk

    df = q_sketch_countmin_topk(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) >= 1
    assert I.has_partial_aggregation(df)
    assert all(set(s) <= {"l_suppkey"} for s in I.read_schemas(df))


def test_pq_adc_codes_only_shuffle(spark, sf_dir):
    """PQ-ADC (round-14 promoted-artifact shape): the 64-row OPQ
    assignment map, the M×K codebook and the per-query LUT are the ONLY
    broadcast sides — all bounded, and the map/codebook arrive as
    PROMOTED LocalRelations (trained once per process, ``_trained``),
    so the served plan contains exactly 3 hint sites and NO training
    chain; the ADC join is a keyed (m, code) equi-join whose
    corpus-side payload is the 32-code table — never the raw 64-double
    vectors; no cartesian anywhere. (The training plan itself is pinned
    by test_pq_build_job_budget's cold-build superstep schema list.)"""
    from jp_qcew_spark.queries.similarity import q_knn_pq_adc

    df = q_knn_pq_adc(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_sites(df) == 3
    assert I.has_partial_aggregation(df)
    assert all(
        set(s) <= {"vec_id", "label", "embedding"} for s in I.read_schemas(df)
    )


def test_pit_scd2_keyed_join_no_cartesian(spark, sf_dir):
    """PIT-against-SCD2: the interval predicate must ride the user_id
    equi-join as a residual (keyed join, no range-join cartesian), both
    scans prune to the referenced event columns, and there is no
    broadcast hint (both sides are fact-scale)."""
    from jp_qcew_spark.queries.warehouse import q_join_pit_scd2

    df = q_join_pit_scd2(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    assert all(
        set(s) <= {"user_id", "event_id", "ts", "event_type", "value"}
        for s in I.read_schemas(df)
    )


def test_ivfpq_cell_restricted_codes_join(spark, sf_dir):
    """IVFADC composition: no cartesian, only bounded broadcasts — with
    the round-14 promoted artifacts the served plan carries exactly 5
    hint SITES (promoted centroids in the assignment pass, the 64-row
    map under the pivot, the promoted codebook in encode, the
    query-cell slice, the LUT); partial aggregation present, scans
    pruned to the embedding columns. A NEW hint on a corpus-sized side
    moves the site count — the invariant that matters."""
    from jp_qcew_spark.queries.similarity import q_knn_ivfpq

    df = q_knn_ivfpq(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_sites(df) == 5
    assert I.has_partial_aggregation(df)
    assert all(
        set(s) <= {"vec_id", "label", "embedding"} for s in I.read_schemas(df)
    )


def test_pq_build_job_budget(spark, sf_dir, monkeypatch):
    """The PQ family is EXEMPT from the zero-pre-query-jobs discipline
    (each codebook Lloyd superstep materializes via count() — the
    measured 28 s → 4 s fix for racing broadcast subtrees), so pin the
    exemption's BOUNDS instead (ADVICE r12), in the round-14
    promoted-artifact shape: a COLD build (reset memo) trains once —
    exactly _PQ_ITERS count() calls, every one on the M×K-row codebook
    frame (schema-pinned; a corpus-sized count() sneaking in under the
    exemption moves this list) — and every SUBSEQUENT family build runs
    ZERO counts, proving the promotion actually shares the training
    (VERDICT r13 #4) instead of silently retraining per query."""
    # classic class — base-class count patches are vacuous (round 13)
    from pyspark.sql.classic.dataframe import DataFrame

    from jp_qcew_spark.queries.similarity import (
        _PQ_ITERS,
        q_knn_ivfpq,
        q_knn_pq_adc,
        reset_trained_memo,
    )

    calls: list[tuple[str, ...]] = []
    orig = DataFrame.count

    def _spy(self):
        calls.append(tuple(self.columns))
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", _spy)
    reset_trained_memo()
    q_knn_pq_adc(spark, sf_dir)
    assert calls == [("m", "code", "c1", "c2")] * _PQ_ITERS
    calls.clear()
    q_knn_ivfpq(spark, sf_dir)  # warm: serves the promoted codebook
    assert calls == []
    calls.clear()
    q_knn_pq_adc(spark, sf_dir)  # warm rebuild of the trainer itself
    assert calls == []


def test_widen_scan_noops_on_many_file_corpus(spark, tmp_path):
    """The many-file no-op path (VERDICT r5 #7): when the file index
    already yields at least core-count splits, widen_scan must NOT add an
    exchange even though the corpus clears the size gate — on a 100 TB
    many-file corpus a blanket repartition of raw text would itself be
    the bottleneck; parallelism already comes from the file splits."""
    import pyspark.sql.functions as F

    from jp_qcew_spark.io import _WIDEN_MIN_BYTES, widen_scan

    dp = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many.parquet")
    # dp+8 files of incompressible payload, comfortably over the byte gate
    spark.range(60_000).select(
        "id",
        F.sha2(F.col("id").cast("string"), 512).alias("a"),
        F.sha2((F.col("id") + 1).cast("string"), 512).alias("b"),
    ).repartition(dp + 8).write.parquet(many)
    df = spark.read.parquet(many)
    files = df.inputFiles()
    assert len(files) >= dp
    import os as _os
    from urllib.parse import unquote, urlparse

    total = sum(
        _os.path.getsize(unquote(urlparse(f).path)) for f in files
    )
    assert total >= _WIDEN_MIN_BYTES, "fixture must clear the size gate"
    assert I.count_exchanges(widen_scan(df)) == 0


def test_static_partition_pruning_on_year_qtr_layout(spark, tmp_path):
    """Static partition pruning against a multi-partition, multi-file
    (year, qtr) corpus (VERDICT r5 #7): a year=/qtr= equality filter must
    appear as PartitionFilters on the scan (pruned BEFORE any row is
    read) — and the pruned scan must touch only that partition's files,
    not the whole tree. This is the layout qcew_etl writes
    (operators/etl.py partitionBy year,qtr), exercised here with 12
    partitions x multiple files."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "qcew_tree")
    spark.range(12_000).select(
        (2020 + F.col("id") % 3).cast("int").alias("year"),
        (1 + (F.col("id") / 3).cast("long") % 4).cast("int").alias("qtr"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).repartition(4).write.partitionBy("year", "qtr").parquet(root)
    full = spark.read.parquet(root)
    n_all = len(full.inputFiles())
    pruned = full.filter((F.col("year") == 2021) & (F.col("qtr") == 2))
    pf = I.partition_filters(pruned)
    assert any("year" in f for f in pf) and any("qtr" in f for f in pf)
    # pruning is real at EXECUTION time: only the one (year,qtr) leaf's
    # files are actually opened (inputFiles() is relation-level and would
    # still list the whole tree)
    n_pruned = (
        pruned.select(F.input_file_name().alias("f")).distinct().count()
    )
    assert 0 < n_pruned < n_all / 6
    # and no data filter remains — partition columns never reach the rows
    assert not I.pushed_filters(pruned)


def test_cdc_diff_single_full_outer_join(spark, sf_dir):
    """Snapshot diff must be ONE keyed full-outer join (both snapshots
    shuffle once on the key) + a 3-group audit agg — no window, no second
    pass, no cartesian."""
    from jp_qcew_spark.queries.warehouse import q_cdc_diff_snapshots

    df = q_cdc_diff_snapshots(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 1
    assert I.has_partial_aggregation(df)


def test_embedding_quantize_broadcast_scales_only(spark, sf_dir):
    """Scalar quantization: the only join is the 64-row scales table
    broadcast back onto the exploded stream; both aggregations are
    64-group partial aggs — raw vectors never shuffle."""
    from jp_qcew_spark.queries.similarity import q_embedding_quantize_int8

    df = q_embedding_quantize_int8(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hash_joins(df) >= 1
    assert I.sort_merge_joins(df) == 0
    assert I.has_partial_aggregation(df)
    assert I.broadcast_hint_count(df) == 1  # bounded: 64 rows by construction


def test_sample_temperature_no_low_cardinality_window(spark, sf_dir):
    """Exact per-domain quotas must NOT serialize the corpus into
    one-partition-per-domain: the rank window is keyed (source, bucket)
    — 256 hash buckets per domain — and every join against the corpus
    stream is a bounded broadcast (quota and offset tables are
    ≤ domains×256 rows by construction)."""
    from jp_qcew_spark.plans.inspect import formatted_plan
    from jp_qcew_spark.queries.curation import q_sample_temperature

    df = q_sample_temperature(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) == 0  # corpus never joins corpus
    plan = formatted_plan(df)
    import re

    # every window partition spec over the corpus includes the bucket key
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    corpus_specs = [s for s in specs if "bucket" in s or "source" in s]
    assert any("bucket" in s for s in corpus_specs)


def test_text_containment_keyed_joins_only(spark, sf_dir):
    """Containment pairs reuse the capped shared-shingle discipline: the
    self-join is keyed by shingle, sizes join by doc_id, and no dedup-
    family broadcast hint may grow with the corpus (the r1/r2 rule)."""
    from jp_qcew_spark.queries.dedup import q_text_containment

    df = q_text_containment(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0


def test_cep_sequence_single_user_shuffle(spark, sf_dir):
    """CEP adjacency must be a lead-window pass, not a self-join: one
    shuffle on the high-cardinality user key (the rollup reuses the
    window's partitioning), plus the presentation sort — and no join
    operator at all."""
    from jp_qcew_spark.queries.events import q_events_cep_sequence

    df = q_events_cep_sequence(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert I.count_exchanges(df) <= 2


def test_scd2_upsert_single_key_partitioning(spark, sf_dir):
    """Incremental SCD2 maintenance must stay on ONE shuffle key: both
    windows and the close-out join all key on user_id (no cartesian, no
    second join), so at scale the whole pass is co-partitioned."""
    from jp_qcew_spark.queries.warehouse import q_scd2_upsert

    df = q_scd2_upsert(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 1
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(user_id#\d+", plan)


def test_attribution_single_user_window_no_join(spark, sf_dir):
    """Last-touch attribution must be the running-max window form, not an
    as-of self-join: zero join operators, one user-keyed shuffle reused
    by the rollup."""
    from jp_qcew_spark.queries.events import q_events_attribution

    df = q_events_attribution(spark, sf_dir)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert not I.has_cartesian_product(df)
    assert I.count_exchanges(df) <= 2


def test_rolling_median_windows_daily_series_not_events(spark, sf_dir):
    """The exact-median frame must run over the (type, day) series AFTER
    the daily partial agg — the heavy reduction happens map-side combined;
    the window never sees raw events."""
    from jp_qcew_spark.queries.events import q_ts_rolling_median

    df = q_ts_rolling_median(spark, sf_dir)
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    # the Window operator's input is the aggregate, so the plan orders
    # Window above HashAggregate (formatted plan lists operators leaf-last)
    assert plan.index("Window") < plan.index("HashAggregate")


def test_skyline_two_phase_no_global_fact_sort(spark, sf_dir):
    """Distributed skyline: phase 1 is a 64-bucket local-frontier window,
    phase 2 a global window over survivors only — two Window operators,
    no join, no cartesian; the single-partition sort touches survivors,
    never the fact table."""
    import re as _re

    from jp_qcew_spark.queries.warehouse import q_skyline_orders

    df = q_skyline_orders(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert len(_re.findall(r"^\(\d+\) Window", plan, _re.M)) == 2
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert not I.has_cartesian_product(df)


def test_mm_codec_queries_prune_scan_and_stay_arrow(spark, sf_dir):
    """The six real-codec queries share one shape: they read ONLY
    (doc_id, text) from the documents scan, and payload synthesis
    (``_payloads``) and decode (``_decode``) are two chained MapInPandas
    stages, zero joins, zero extra shuffles beyond the final sort."""
    from jp_qcew_spark.queries.multimodal import (
        q_mm_bmp_decode,
        q_mm_gif_decode,
        q_mm_png_decode,
        q_mm_tga_decode,
        q_mm_tiff_decode,
        q_mm_wav_decode,
    )

    for q in (q_mm_png_decode, q_mm_gif_decode, q_mm_wav_decode,
              q_mm_bmp_decode, q_mm_tga_decode, q_mm_tiff_decode):
        df = q(spark, sf_dir)
        schemas = I.read_schemas(df)
        assert schemas and all(
            set(s) <= {"doc_id", "text"} for s in schemas
        ), schemas
        assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
        assert not I.has_cartesian_product(df)
        plan = I.formatted_plan(df)
        assert (
            len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 2
        )  # synth stage + decode stage


def test_url_canonical_single_shuffle_no_udf(spark, sf_dir):
    """URL-canonicalization dedup must be the dedup_exact shape: a
    codegen'd string pipeline + ONE hash aggregation on the canonical
    key — no joins, no Python evaluation, scan pruned to the three
    referenced columns."""
    from jp_qcew_spark.queries.curation import q_dedup_url_canonical

    df = q_dedup_url_canonical(spark, sf_dir)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert "Python" not in plan and "MapInPandas" not in plan
    schemas = I.read_schemas(df)
    assert schemas and all(
        set(s) <= {"doc_id", "lang", "source"} for s in schemas
    ), schemas


def test_pmi_windows_over_bigram_types_broadcast_total(spark, sf_dir):
    """PMI margins must be windows over the bigram-TYPE table (Heaps-law
    sublinear), never a re-shuffle of the corpus; the 1-row grand total
    joins as a broadcast, and the only corpus-sized shuffle is the bigram
    count's partial agg."""
    from jp_qcew_spark.queries.text import q_text_pmi_assoc

    df = q_text_pmi_assoc(spark, sf_dir)
    assert not I.has_cartesian_product(df) or I.broadcast_hint_count(df) >= 1
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2
    assert "MapInPandas" not in plan


def test_minhash_est_eval_no_corpus_broadcast(spark, sf_dir):
    """The estimator eval reuses the LSH candidate + verify chain, so it
    inherits the dedup-family rule: NO broadcast hint on any side that
    grows with the corpus (signatures, candidates, exploded shingles),
    and no cartesian product anywhere."""
    from jp_qcew_spark.queries.dedup import q_dedup_minhash_est_eval

    df = q_dedup_minhash_est_eval(spark, sf_dir)
    assert I.broadcast_hint_count(df) == 0
    assert not I.has_cartesian_product(df)


def test_exact_substring_capped_join_no_corpus_broadcast(spark, sf_dir):
    """Exact-substring pairs follow the dedup-family rule: candidates come
    from a frequency-capped fingerprint equi-join (never n², never a
    cartesian), no broadcast HINT on any corpus-growing side, and the
    shared window table is scope-cached so the text scan + md5 fan-out
    materializes once for its five consumers."""
    from jp_qcew_spark.queries.dedup import q_dedup_exact_substring

    df = q_dedup_exact_substring(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_quantile_hist_mergeable_partials(spark, sf_dir):
    """The histogram quantile sketch must be mergeable at the combiner:
    the fact scan feeds a partial-aggregated (flag, bin) count — 64
    additive counters per partition, never values — and the exact-audit
    twin is a second partial-percentile scan joined by BROADCAST (3
    rows). No cartesian anywhere, and the interpolation runs post-
    shuffle on the tiny histogram frame."""
    from jp_qcew_spark.queries.sketches import q_sketch_quantile_hist

    df = q_sketch_quantile_hist(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_mm_audio_frames_single_boundary_crossing(spark, sf_dir):
    """Frame-level audio features must fan out INSIDE the Arrow batch:
    two MapInPandas stages total (WAV synth + frame extract, so the
    binary column crosses the JVM↔Python boundary once per payload),
    a (doc_id, text)-pruned scan, and no joins — the 8× row fan-out
    never becomes an explode+join on the JVM side."""
    from jp_qcew_spark.queries.multimodal import q_mm_audio_frames

    df = q_mm_audio_frames(spark, sf_dir)
    schemas = I.read_schemas(df)
    assert schemas and all(set(s) <= {"doc_id", "text"} for s in schemas)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert not I.has_cartesian_product(df)
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 2


def test_markov_transitions_two_shuffles(spark, sf_dir):
    """The transition matrix must be a lead-window pass plus a (src, dst)
    reduction — never a self-join for adjacency: zero join operators,
    and the user-keyed window is the only fact-sized shuffle (the second
    shuffle carries at most |event_type|^2 rows)."""
    from jp_qcew_spark.queries.events import q_events_markov_transitions

    df = q_events_markov_transitions(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(user_id#\d+", plan)
    assert "partial_count" in plan


def test_seasonal_dow_daily_preagg_before_window(spark, sf_dir):
    """Decomposition must reduce events to the daily series BEFORE any
    window: the plan carries a partial-aggregated (event_type, date)
    count feeding the trend window — the window sorts days, never raw
    events — and there are no joins at all."""
    from jp_qcew_spark.queries.events import q_ts_seasonal_dow

    df = q_ts_seasonal_dow(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    plan = I.formatted_plan(df)
    assert "partial_count" in plan
    assert re.search(r"windowspecdefinition\(event_type#\d+", plan)


def test_gram_matrix_batch_local_partials(spark, sf_dir):
    """The Gram matrix must be per-batch BLAS partials merged by a keyed
    sum — ONE MapInPandas stage over a pruned (embedding-only) scan, a
    partial-aggregated (i, j) reduction, and no joins: shuffle volume is
    batches x 2,080 cells, independent of corpus size."""
    from jp_qcew_spark.queries.similarity import q_embedding_gram_matrix

    df = q_embedding_gram_matrix(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
    assert "partial_sum" in plan
    schemas = I.read_schemas(df)
    assert schemas and all(set(s) <= {"embedding"} for s in schemas)


def _lsh_plan_bits(plan: str) -> int:
    """Bit width of the sign-LSH bucket concat in a formatted plan: the
    bucket projection indexes the vector as ``v#N[i]`` for i in
    [0, bits) and nothing else in these plans indexes the array (cosine
    is fold-based), so width = max index + 1."""
    idxs = [int(m) for m in re.findall(r"v#\d+\[(\d+)\]", plan)]
    assert idxs, "no sign-bucket array indexing found in plan"
    return max(idxs) + 1


def test_knn_graph_mutual_no_corpus_broadcast(spark, sf_dir):
    """The all-node mutual-kNN build follows the dedup-family rule, not
    the serving-query rule: BOTH self-join sides are corpus-sized, so no
    broadcast hint anywhere, no cartesian, the top-3 window partitions
    by src, and the directed edge list is scope-cached for the mutual
    join against its own reverse. The candidate generator must be the
    BANDED corpus-derived one (VERDICT r8 #1): the plan indexes exactly
    bands × row_bits sign planes (a fixed width — the killed 8-plane
    cut — makes per-bucket pairs quadratic; a single band clamps the
    occupancy rule at n ≈ 1M), and the band fan-out shows up as a
    Generate (posexplode) feeding the keyed self-join."""
    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg,
        q_knn_graph_mutual,
    )

    df = q_knn_graph_mutual(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(src#\d+", plan)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "Generate" in plan  # posexplode of the band keys
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    bands, bits = _lsh_cfg(n)
    assert _lsh_plan_bits(plan) == bands * bits


def test_dedup_embedding_banded_plan(spark, sf_dir):
    """dedup_embedding_cos rides the same banded generator: per-band keyed
    self-join (band, bucket) with NO broadcast hint (both sides corpus-
    sized — the r1/r2 dedup rule), candidate pairs DISTINCT-ed before the
    verify joins (an aggregate between the generator and the scoring
    joins), and the plane count corpus-derived at bands × row_bits."""
    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg,
        q_dedup_embedding_cos,
    )

    df = q_dedup_embedding_cos(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert "Generate" in plan
    # the candidate-pair distinct: a keys-only HashAggregate between the
    # banded self-join and the scoring joins
    assert re.search(r"HashAggregate \[codegen id : \d+\]|HashAggregate", plan)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    bands, bits = _lsh_cfg(n)
    assert _lsh_plan_bits(plan) == bands * bits


def test_knn_lsh_banded_serving_plan(spark, sf_dir):
    """The banded SERVING query keeps the serving rule: exactly one
    broadcast — the exploded query band keys (b·|Q| rows, bounded by the
    query set) — never the corpus; candidates collapse across bands via
    a keyed aggregate before the bounded top-3 window."""
    from jp_qcew_spark.queries.similarity import (
        _lsh_cfg,
        q_knn_lsh_banded,
    )

    df = q_knn_lsh_banded(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 1
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(query_id#\d+", plan)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    bands, bits = _lsh_cfg(n)
    assert _lsh_plan_bits(plan) == bands * bits


def test_semdedup_mutual_no_corpus_broadcast(spark, sf_dir):
    """SemDeDup keep decision on the mutual-kNN graph: no broadcast hint
    anywhere (edges, labels, and centroids all grow with the corpus), no
    cartesian, the centroid reduction is a keyed partial aggregation, and
    the per-cluster ranking windows on comp. The quantized integer plane
    shows up as floor(x * 65536) in the projection — the determinism
    device (exact integer sums) the docstring pins."""
    from jp_qcew_spark.queries.similarity import q_semdedup_mutual

    df = q_semdedup_mutual(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(comp#\d+", plan)
    assert "partial_sum" in plan
    assert "65536" in plan and "FLOOR" in plan.upper()


def test_serving_ann_adaptive_width(spark, sf_dir):
    """The serving-side LSH queries share the corpus-adaptive width rule
    (VERDICT r7 #3): fixed width means per-query candidates LINEAR in
    corpus size. knn_signlsh buckets at _lsh_bits(n); knn_multiprobe
    probes exactly bits+1 buckets (home + one per flipped bit)."""
    from jp_qcew_spark.queries.similarity import (
        _lsh_bits,
        q_knn_multiprobe,
        q_knn_signlsh,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    bits = _lsh_bits(n)
    assert _lsh_plan_bits(I.formatted_plan(q_knn_signlsh(spark, sf_dir))) == bits
    mp_plan = I.formatted_plan(q_knn_multiprobe(spark, sf_dir))
    assert _lsh_plan_bits(mp_plan) == bits


def test_dsir_bounded_broadcast_stats(spark, sf_dir):
    """DSIR's two distributions live in a FIXED 256-bucket space, so the
    plan must attach them map-side: the bucket log-ratio table and the
    1-row totals both join by BROADCAST (the only joins in the plan),
    the statistics pass is a combiner-friendly partial aggregation, and
    the scan reads only (doc_id, lang, text). A shuffle join on bucket
    here would re-shuffle the whole bigram fan-out for a 256-row dim."""
    from jp_qcew_spark.queries.curation import q_dsir_importance

    df = q_dsir_importance(spark, sf_dir)
    assert I.broadcast_hint_count(df) == 2
    assert I.sort_merge_joins(df) == 0
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    schemas = I.read_schemas(df)
    assert schemas and all(
        set(s) <= {"doc_id", "lang", "text"} for s in schemas
    ), schemas


def test_label_prop_superstep_no_corpus_broadcast(spark, sf_dir):
    """LPA supersteps follow the PageRank discipline: labels and edges
    are BOTH corpus-sized, so every superstep join is a keyed shuffle
    join with NO broadcast hint, votes reduce with a map-side partial
    count, the top-1 vote windows on node, and the undirected edge list
    is scope-cached once across both iterations."""
    from jp_qcew_spark.queries.graph import q_graph_label_prop

    df = q_graph_label_prop(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.broadcast_hint_count(df) == 0
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(node#\d+", plan)
    assert "partial_count" in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_chunk_overlap_is_a_map(spark, sf_dir):
    """Chunking must stay embarrassingly parallel: the window grid comes
    from sequence+slice inside one codegen projection — zero joins, zero
    aggregations, no UDF — and the ONLY exchange in the plan is the final
    presentation sort. Any join or window here means the operator stopped
    being a map and won't scale as one."""
    from jp_qcew_spark.queries.text import q_text_chunk_overlap

    df = q_text_chunk_overlap(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert I.count_exchanges(df) == 1
    plan = I.formatted_plan(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "windowspecdefinition" not in plan
    schemas = I.read_schemas(df)
    assert schemas and all(set(s) <= {"doc_id", "text"} for s in schemas)


def test_zorder_stats_single_scan_no_joins(spark, sf_dir):
    """The layout audit must stay one corpus scan + a 128-key zone-map
    aggregation: the two layout assignments fan out through an inline
    explode (never a self-union that rescans parquet), the z-key is pure
    codegen integer arithmetic, and there are no joins or windows — the
    shuffle carries zone-map partials only."""
    from jp_qcew_spark.queries.warehouse import q_layout_zorder_stats

    df = q_layout_zorder_stats(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.sort_merge_joins(df) + I.broadcast_hash_joins(df) == 0
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "windowspecdefinition" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    schemas = I.read_schemas(df)
    assert schemas and all(set(s) <= {"user_id", "value"} for s in schemas)


def test_bpe_type_table_windows_and_broadcast_argmax(spark, sf_dir):
    """BPE statistics must live on the word-TYPE table: adjacency comes
    from a lead window partitioned by word (never a positions self-join),
    the argmax pair and the symbol-total are 1-row BROADCASTs onto their
    consumers (the hint count exceeds 4 only because the unrolled lineage
    repeats those 1-row subtrees, never because a corpus-sized side is
    hinted), the corpus-wide word count is a combiner-friendly partial
    aggregation, and the merge application's islands windows partition by
    word — no global sort anywhere before the 2-row presentation
    orderBy."""
    from jp_qcew_spark.queries.training import q_tokenizer_bpe_merges

    df = q_tokenizer_bpe_merges(spark, sf_dir)
    assert I.broadcast_hint_count(df) >= 4
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert re.search(r"windowspecdefinition\(word#\d+", plan)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # round 9: _bpe_learn localCheckpoints the type table per round, so
    # the final plan roots at the materialized round tables — a parquet
    # scan in it would mean a round REPLAYED the corpus; either no scan
    # (all behind checkpoints) or a text-only pruned one is legal
    schemas = I.read_schemas(df)
    assert all(set(s) <= {"text"} for s in schemas)
    assert "Scan ExistingRDD" in plan  # the checkpointed type table


def test_kcenter_broadcast_chosen_never_corpus(spark, sf_dir):
    """Every k-center round joins the ≤4-row chosen set by BROADCAST onto
    one corpus pass (3 hints, one per round) — a shuffle join or a
    corpus-side hint here is the failure mode; the per-vector nearest-
    center reduce must be a partial-aggregated keyed min, and nothing
    windows globally (the argmax is a two-phase TakeOrdered limit)."""
    from jp_qcew_spark.queries.similarity import q_sample_kcenter

    df = q_sample_kcenter(spark, sf_dir)
    assert I.broadcast_hint_count(df) >= 3
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_bpe_apply_type_table_join(spark, sf_dir):
    """Apply must segment once per word TYPE and attach sizes to word
    INSTANCES through a keyed equi-join (the text_lm_score model/score
    shape) — never re-segment per instance: the plan joins on word, the
    per-doc rollup is partial-aggregated, and the top-30 is a two-phase
    TakeOrdered, not a global sort."""
    from jp_qcew_spark.queries.training import q_tokenizer_bpe_apply

    df = q_tokenizer_bpe_apply(spark, sf_dir)
    assert not I.has_cartesian_product(df)
    assert I.has_partial_aggregation(df)
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_recall_eval_truth_pass_pre_amplification_repartition(
    spark, sf_dir
):
    """Both embedding recall evals broadcast the bounded eval slice
    against the corpus, folding |slice| cosines per corpus ROW — compute
    amplification widen_scan's byte gate cannot see (the `_pq_sub_pivot`
    lesson: a one-split embeddings file put the whole |slice|×n scoring
    pass on ONE core, 8.5 s of single-task CPU ≈ 90% of the eval's
    sf0.1 bill). The corpus side must therefore enter the truth join
    through an explicit hashpartitioning exchange on its unique id —
    linear payload, even spread — and the slice side must stay the
    broadcast (never the corpus)."""
    from jp_qcew_spark.queries.similarity import (
        q_dedup_recall_eval,
        q_dedup_recall_target_eval,
    )

    for builder in (q_dedup_recall_eval, q_dedup_recall_target_eval):
        df = builder(spark, sf_dir)
        plan = I.formatted_plan(df)
        assert not I.has_cartesian_product(df)
        assert re.search(r"hashpartitioning\(id_b", plan), builder.__name__


def _root_sort_input(df) -> str:
    """The operator line directly under the plan's global (root) Sort."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    i = next(i for i, ln in enumerate(lines) if re.search(r"Sort \[.*\], true", ln))
    return lines[i + 1].strip()


@pytest.mark.parametrize(
    "name",
    [
        "cast_nullsafe",
        "mode_keying",
        "rank_dense",
        "quantiles_exact",
        "pricing_summary",
        "suppressed_agg",
        "join_broadcast_dims",
        "running_sum",
        "union_distinct",
        "stream_stateful_user_stats",
        "stream_session",
    ],
)
def test_final_sort_over_single_partition(spark, sf_dir, name):
    """A collected result's final sort (io.order_result) sits on a
    SinglePartition exchange, never a range exchange: a range exchange's
    RangePartitioner runs a sampling job that re-executes the stage under
    the sort before the exchange runs it again."""
    from jp_qcew_spark.queries import all_queries

    df = all_queries()[name](spark, sf_dir)
    assert _root_sort_input(df).startswith("+- Exchange SinglePartition")
    assert not re.search(r"rangepartitioning", I.formatted_plan(df), re.I)


def test_tick_sample_sort_adds_no_exchange(spark, sf_dir):
    """tick_sample's sort input is already one partition (its unpartitioned
    row_number window), so its final sort stays a plain orderBy: no
    one-partition repartition on top of the window's own exchange."""
    from jp_qcew_spark.queries.core import q_tick_sample

    df = q_tick_sample(spark, sf_dir)
    assert not _root_sort_input(df).startswith("+- Exchange")
    assert "REPARTITION_BY_NUM" not in I.formatted_plan(df)
    assert I.count_exchanges(df) == 2
