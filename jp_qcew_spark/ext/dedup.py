"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

The LLM-data-pipeline tier (north star in BASELINE.json): every operator is
built from JVM-side expressions (md5, array lambdas) — no Python UDFs — so
the hot path stays in whole-stage codegen and the hash family is portable
(identical md5 strings on any engine, which is what makes the DuckDB oracle
able to verify MinHash/SimHash bit-for-bit).

Scale design (100 TB posture):
- Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle keyed by
  the fingerprint; no skew (uniform hash keys).
- MinHash+LSH: per-doc signature is a narrow projection (no shuffle); the
  band-bucket self-join shuffles on (band_idx, band_key) so only docs sharing
  a bucket ever meet — the candidate set, not the n² pair space.
- Jaccard verify: candidate pairs only; shingle sets travel as arrays
  (bounded by doc length), intersection via array_intersect.
- SimHash: explode(tokens × 32 bits) is map-side only; the per-(doc,bit)
  aggregation shuffles on doc_id — linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jp_qcew_spark.functions.text import tokens


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles from a MATERIALIZED token-array column.

    Performance contract: ``t`` must be a real column (attribute reference),
    not an inline expression — higher-order-function lambdas are interpreted
    per element with no common-subexpression elimination, so an inline
    ``split()`` here would re-tokenize the document for every gram. Layering
    the projection (tokens column → shingles column) makes each ``F.get``
    a cheap array lookup. Spark's CollapseProject deliberately keeps the
    layers separate because the token column is referenced more than once.
    """
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", *[F.get(t, i + j) for j in range(k)]),
    )
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a raw text column (convenience form;
    for hot paths use tokens → ``shingles_from_tokens`` layering)."""
    return shingles_from_tokens(tokens(col), k)


def minhash_array(shingle_col: Column, num_hashes: int = 12) -> Column:
    """MinHash signature as one array of ``num_hashes`` md5-string minima.

    h_i(S) = min over shingles s of md5("{i}:" + s). Lexicographic min over
    hex strings is a valid random-permutation surrogate, and md5 is identical
    across engines — the whole signature is oracle-checkable.

    Single pass over the shingle set: each shingle expands to its
    ``num_hashes`` hashes, folded with an element-wise ``least`` — O(|S|)
    md5 work instead of ``num_hashes`` separate traversals (which projection
    collapse would otherwise multiply into re-shingling per hash).
    ``'g'`` sorts above every hex digit, so it is the fold identity.
    """
    per_shingle = F.transform(
        shingle_col,
        lambda s: F.array(
            *[F.md5(F.concat(F.lit(f"{i}:"), s)) for i in range(num_hashes)]
        ),
    )
    init = F.array(*[F.lit("g") for _ in range(num_hashes)])
    return F.aggregate(
        per_shingle, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b))
    )


def band_key(sig: Column, band: int, rows_per_band: int) -> Column:
    """LSH band key: md5 of the signature slice for ``band`` (sig = the
    array column produced by :func:`minhash_array`)."""
    lo = band * rows_per_band
    return F.md5(
        F.concat(*[F.get(sig, lo + j) for j in range(rows_per_band)])
    )


def band_pairs(banded: DataFrame, id: str, a: str, b: str) -> DataFrame:
    """LSH candidate pairs: the DISTINCT (``a``, ``b``) id pairs, a < b,
    of rows of ``banded`` (one row per id and band: ``id``, band index,
    band key) that agree on every column but ``id``. A keyed equi-join on
    (band, key), so only ids sharing a bucket meet; a pair colliding in
    several bands comes out once. Caches nothing: callers that reuse the
    pairs scope-cache them (``io.track_cache``)."""
    keys = [c for c in banded.columns if c != id]
    on = F.col(f"l.{id}") < F.col(f"r.{id}")
    for k in reversed(keys):
        on = (F.col(f"l.{k}") == F.col(f"r.{k}")) & on
    return (
        banded.alias("l")
        .join(banded.alias("r"), on)
        .select(F.col(f"l.{id}").alias(a), F.col(f"r.{id}").alias(b))
        .distinct()
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) rows — the EXPLODED shingle form, all codegen'd operators.

    posexplode(tokens) → word grams via window ``lead`` → distinct. This is
    the hot-path form: per-row array lambdas (transform/aggregate) run in the
    interpreted expression evaluator, ~6× slower than this native pipeline,
    and at 100 TB the exploded form also shuffles on the natural keys
    (id for the gram window, shingle for the candidate join) instead of
    carrying whole shingle arrays through joins.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, k)]
    grams = tok.select(id_col, "tok", *leads).filter(
        F.col(f"t{k - 1}").isNotNull()
    )
    return grams.select(
        id_col,
        F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, k)]).alias("shingle"),
    ).distinct()


DF_CAP_DEFAULT = 32


def stop_shingle_filter(
    ex: DataFrame,
    df_cap: int = DF_CAP_DEFAULT,
    sh_col: str = "shingle",
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_cap`` before a
    shared-shingle self-join (the "stop-shingle" guard).

    A shingle appearing in f documents contributes f·(f-1)/2 candidate pairs
    to the self-join — one boilerplate phrase shared by 10^6 docs would alone
    emit ~5·10^11 pair rows. Capping document frequency bounds per-shingle
    join fan-out at df_cap², making the candidate stage linear in corpus
    size. The count window partitions on the shingle key — the same shuffle
    layout the self-join needs, so AQE reuses the exchange and the guard
    costs no extra shuffle.

    Semantics (documented threshold, mirrored in every oracle that uses it):
    pairs whose ONLY shared shingles are ubiquitous (df > cap) stop being
    candidates; for near-dup detection those boilerplate-only matches are
    noise. With df_cap=32 no shingle in the sf0.001-0.1 corpora is dropped
    (max observed df = 25), so small-scale results are unchanged.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(sh_col)
    return (
        ex.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= df_cap)
        .drop("_df")
    )


def minhash_from_exploded(ex: DataFrame, id_col: str, num_hashes: int = 12) -> DataFrame:
    """(id, mh_0..mh_{n-1}) MinHash signatures from exploded shingles.

    ``min(md5(i:shingle))`` per id — partial (map-side) aggregation makes the
    shuffle carry only one row per id per partition. Same hash family as
    :func:`minhash_array`, so results are identical.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def jaccard(a: Column, b: Column, decimals: int = 6) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(inter / union, decimals)


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document from its distinct token set.

    Bit p (= hex-digit k × 4 + j) of the hash is the majority vote of bit j
    of hex digit k of md5(token) across tokens: 1 iff 2·ones > n_tokens.
    Every step is integer arithmetic on md5 hex digits — portable to the SQL
    oracle verbatim.

    Plan shape (round 3): the 32 bit positions are COLUMNS of the per-token
    row, not exploded rows — the earlier pos-level explode shipped 32 rows
    per token through the shuffle (160M rows at a 50k-doc corpus; the worst
    scaler in BENCH_SF1). As 32 ``sum`` aggregates over one row per token,
    the partial aggregation is map-side and the exchange carries one
    33-column row per (doc × partition) — a 32× shuffle-volume cut with
    bit math unchanged.
    """
    tok = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        # first 8 hex digits of md5 as ONE 32-bit integer; digit k's value
        # is then (v >> 4*(7-k)) & 15 and its bit j is (v >> 4*(7-k)+j) & 1
        # — same bit indexing as the oracle's locate()/floor-div form, with
        # one conv per token instead of 8 substring probes
        .withColumn(
            "v", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        )
    )
    bit_cols = [
        F.shiftright(F.col("v"), 4 * (7 - k) + j)
        .bitwiseAND(F.lit(1))
        .cast("long")
        .alias(f"b{k * 4 + j}")
        for k in range(8)
        for j in range(4)
    ]
    per_tok = tok.select(id_col, *bit_cols)
    agg = per_tok.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        *[F.sum(f"b{p}").alias(f"s{p}") for p in range(32)],
    )
    simhash = None
    for p in range(32):
        term = F.when(
            2 * F.col(f"s{p}") > F.col("n_tok"), F.lit(float(2**p))
        ).otherwise(F.lit(0.0))
        simhash = term if simhash is None else simhash + term
    return agg.select(
        id_col, simhash.cast("long").alias("simhash")
    )


def minhash_band_keys(
    text: Column,
    num_hashes: int = 12,
    rows_per_band: int = 4,
) -> Column:
    """MinHash LSH band keys straight from a raw text column, as ONE
    Arrow-batched pandas UDF — the STREAMING form of the
    tokens→shingles→``minhash_array``→``band_key`` chain.

    Why a UDF here when the batch pipeline stays JVM-side: the batch
    form is exploded shingles + a groupBy min-agg (whole-stage codegen),
    but a streaming aggregation is forbidden before a stateful operator,
    and the per-row HOF fallback (``minhash_array``) runs in the
    interpreted expression evaluator — measured ~70 core-ms per document
    (|shingles| x num_hashes nested lambda steps) vs ~2-3 ms for this
    Arrow batch loop: the difference between a micro-batch quiescing and
    timing out at sf1. Same pinned hash family bit-for-bit: tokens =
    ASCII ``\\s+`` split of the space-trimmed text (empty -> no keys,
    <3 tokens -> no shingles — the ``dedup_minhash_lsh`` nonempty rule),
    mh_i = lexicographic min over distinct word-3-grams s of
    md5("{i}:" + s) hex, band key b = md5(mh_{4b} || .. || mh_{4b+3})
    hex — every step is the oracle's exact derivation, so the driver's
    hash compare still certifies it end to end."""
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # a non-multiple would silently DROP trailing hashes from the key
    # space (num_bands floors) — a config drift from the pinned family
    # must fail loudly, not quietly change every band key (ADVICE r10)
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a multiple of "
            f"rows_per_band={rows_per_band} — a remainder would "
            "silently drop trailing hashes from the band-key space"
        )
    num_bands = num_hashes // rows_per_band
    ws = re.compile(r"\s+", re.ASCII)

    def _keys(texts):
        out = []
        for t in texts:
            st = t.strip(" ") if isinstance(t, str) else ""
            toks = ws.split(st) if st else []
            if len(toks) < 3:
                out.append([])
                continue
            sh = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
            mins = [
                min(
                    hashlib.md5(f"{i}:{s}".encode()).hexdigest()
                    for s in sh
                )
                for i in range(num_hashes)
            ]
            out.append(
                [
                    hashlib.md5(
                        "".join(
                            mins[b * rows_per_band : (b + 1) * rows_per_band]
                        ).encode()
                    ).hexdigest()
                    for b in range(num_bands)
                ]
            )
        return pd.Series(out)

    _keys.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_keys, "array<string>")(text)
