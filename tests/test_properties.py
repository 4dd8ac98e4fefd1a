"""Property-based tests (SURVEY.md §5.4) — hypothesis drives the invariants
the example-based tests can't sweep:

- fixed-width decode round-trips arbitrary field content (the 1-based
  position arithmetic has no off-by-one for ANY value/width combination),
- casts never throw, only null (non-ANSI contract),
- the NAICS aggregate never emits a suppressed group and never loses wages.

Spark-session-per-example is too slow, so properties run the decode logic
through the same projection builder on small literal DataFrames, batched.
"""

from __future__ import annotations

import re
import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jp_qcew_spark.operators.naics import naics4_aggregate
from jp_qcew_spark.schema.qcew_fields import FIELDS, RECORD_WIDTH
from jp_qcew_spark.sources.fixed_width import decode_qcew, typed_qcew
from tests.qcew_fixtures import make_line

# printable latin-1 content without leading/trailing-space ambiguity
_content = st.text(
    alphabet=string.ascii_letters + string.digits + "-_./",
    min_size=0,
    max_size=8,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.dictionaries(
        st.sampled_from([f[0] for f in FIELDS]),
        _content,
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_decode_round_trip(spark, vals):
    """pad(values) → decode ≡ values (trimmed), for arbitrary field subsets."""
    line = make_line(vals)
    assert len(line) == RECORD_WIDTH
    df = spark.createDataFrame([(line,)], "value string")
    row = decode_qcew(df.withColumn("source_file", F.lit("t"))).first()
    widths = {f[0]: f[2] for f in FIELDS}
    for name, val in vals.items():
        # make_line truncates content to the field width before padding
        assert row[name] == val[: widths[name]].strip(), name


# every byte Spark's UTF8String numeric casts trim from the ends: all
# codepoints <= 0x20 and DEL 0x7f (Java whitespace or ISO control), NOT
# just Python/Unicode whitespace — hypothesis found '0\x1b' (trailing
# ESC), which Python's .strip() keeps but Spark trims, casting to 0 where
# the old predicate demanded NULL
_CAST_TRIM = "".join(chr(i) for i in range(0x21)) + "\x7f"
# what the non-ANSI string→integral cast accepts after that trim: an
# optional sign, then digits with an optional fractional part, or a bare
# fractional part; the fraction is truncated (typed_qcew's documented
# semantics), so '.', '-.5' and '1.' cast to 0, 0 and 1, while '', '+'
# and '1.5.' are NULL — hypothesis found '.', which casts to 0
_CAST_INT = re.compile(r"([+-]?)(?:([0-9]+)(?:\.[0-9]*)?|\.[0-9]*)")


@given(junk=st.text(min_size=0, max_size=6))
@_settings
def test_casts_null_not_throw(spark, junk):
    """Non-numeric year/qtr content decodes to NULL, never an exception —
    the reference's cast(strict=False) semantics (data_process.py:66-82).
    The predicate models Spark's actual string→int acceptance on the
    field's slice of ``junk`` (``make_line`` cuts it to the field width):
    trim ``_CAST_TRIM`` from both ends, then ``_CAST_INT``; an accepted
    slice must cast to its truncated integer value."""
    line = make_line({"year": junk, "qtr": junk, "total_wages": junk})
    df = decode_qcew(
        spark.createDataFrame([(line,)], "value string").withColumn(
            "source_file", F.lit("t")
        )
    )
    row = typed_qcew(df).select("year", "qtr", "total_wages").first()
    widths = {f[0]: f[2] for f in FIELDS}
    for name in ("year", "qtr"):
        m = _CAST_INT.fullmatch(junk[: widths[name]].strip(_CAST_TRIM))
        if m is None:
            assert row[name] is None, name
        else:
            assert row[name] == int(m[1] + (m[2] or "0")), name


@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["1111", "2222", "3333"]),  # naics4
            st.integers(min_value=1, max_value=9),      # establishments
            st.integers(min_value=0, max_value=10_000), # wages each
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    )
)
@_settings
def test_suppression_invariants(spark, groups):
    """(a) no emitted group has < 5 establishments; (b) emitted wage sums
    equal the per-group input sums (nothing lost or double-counted)."""
    rows = []
    for naics4, n_est, wages in groups:
        for _ in range(n_est):
            rows.append((2020, 1, naics4 + "00", wages, 30, 30, 30))
    df = spark.createDataFrame(
        rows,
        "file_year int, file_qtr int, naics_code string, total_wages long,"
        "first_month_employment long, second_month_employment long,"
        "third_month_employment long",
    )
    out = {
        r["naics4"]: r
        for r in naics4_aggregate(
            df, year_col="file_year", qtr_col="file_qtr"
        ).collect()
    }
    for naics4, n_est, wages in groups:
        if n_est >= 5:
            assert out[naics4]["dummy"] == n_est
            assert out[naics4]["total_wages"] == wages * n_est
        else:
            assert naics4 not in out


def test_stop_shingle_caps_candidate_blowup(spark):
    """A corpus where every doc shares one boilerplate shingle: without the
    document-frequency cap the shared-shingle self-join yields n·(n-1)/2
    candidate pairs; with it, hot shingles drop out and candidates collapse
    to only genuinely-similar pairs. Guards the O(n²) failure mode the cap
    exists for (VERDICT r1 #6)."""
    from pyspark.sql import functions as F

    from jp_qcew_spark.ext.dedup import exploded_shingles, stop_shingle_filter

    n = 40  # > DF_CAP_DEFAULT (32)
    rows = [(i, f"aa bb cc uniq{i}x uniq{i}y uniq{i}z") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    ex = exploded_shingles(docs, "doc_id", "text")

    def n_candidates(e):
        a, b = e.alias("a"), e.alias("b")
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    assert n_candidates(ex) == n * (n - 1) // 2  # quadratic without the cap
    assert n_candidates(stop_shingle_filter(ex)) == 0  # boilerplate filtered


def test_lsh_bucket_space_grows_with_corpus():
    """Scale-lesson guard (VERDICT r3 #6): round 3's 10x study caught
    dedup_embedding_cos at 29x wall-clock because a FIXED 256-bucket sign-LSH
    makes per-bucket pair counts quadratic in corpus size. The fix sized the
    bucket space to the corpus (bits = log2(n/16), clamped); this test fails
    on any regression back to a constant-bucket self-join, and pins the
    occupancy invariant the formula encodes."""
    from jp_qcew_spark.queries.similarity import _lsh_bits

    # bucket space must GROW between two corpus sizes in the useful range
    assert _lsh_bits(10_000) > _lsh_bits(1_000)
    assert _lsh_bits(1_000_000) > _lsh_bits(10_000)
    # expected occupancy n / 2^bits stays bounded (~16 target, <=32 slack)
    for n in (300, 1_000, 10_000, 250_000, 1_000_000):
        bits = _lsh_bits(n)
        assert n / (1 << bits) <= 32, (n, bits)
    # clamps: tiny corpora never under 4 bits, huge never over 16
    assert _lsh_bits(1) == 4
    assert _lsh_bits(10**12) == 16
    # monotone non-decreasing across the whole range (no formula cliffs)
    prev = 0
    for n in (1, 10, 100, 10**3, 10**4, 10**5, 10**6, 10**7):
        b = _lsh_bits(n)
        assert b >= prev
        prev = b


@given(
    n_rows=st.integers(min_value=1, max_value=5000),
    batch=st.integers(min_value=1, max_value=700),
)
@settings(max_examples=60, deadline=None)
def test_replay_offsets_partition_any_feed(n_rows, batch):
    """The replay source's offset arithmetic must partition ANY feed length
    into loss-free, overlap-free, ordered batches — the pure invariant
    behind the exactly-once proof in test_stream_replay.py (which pins it
    on the real parquet; this drives it over arbitrary sizes)."""
    import datetime as dt

    import pyarrow as pa

    from jp_qcew_spark.sources.stream_replay import (
        _SCHEMA,
        _cast_feed_table,
        _ReplayReader,
    )

    r = _ReplayReader.__new__(_ReplayReader)
    r._batch_opt = str(batch)
    r._batch = None
    # the feed is an Arrow table since r15 (read serves RecordBatch slices)
    epoch = dt.datetime(2020, 1, 1)
    r._table = _cast_feed_table(
        pa.table(
            {
                "event_id": pa.array(range(n_rows), pa.int64()),
                "ts": pa.array(
                    [epoch + dt.timedelta(seconds=i) for i in range(n_rows)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(range(n_rows), pa.int64()),
                "event_type": pa.array(["t"] * n_rows),
                "value": pa.array([0.0] * n_rows),
            }
        ),
        _SCHEMA,
    )

    def rows(batches):
        return [row for b in batches for row in b.to_pylist()]

    off, out, rounds = r.initialOffset(), [], 0
    while True:
        it, nxt = r.read(off)
        got = rows(it)
        if not got:
            assert nxt == off
            break
        out += got
        # the recovery path must re-serve the planned batch exactly
        assert rows(r.readBetweenOffsets(off, nxt)) == got
        off = nxt
        rounds += 1
        assert rounds <= n_rows + 1  # termination guard
    assert [row["event_id"] for row in out] == list(range(n_rows))


@given(n=st.integers(min_value=1, max_value=10**9))
@settings(max_examples=100, deadline=None)
def test_replay_auto_batch_bounds(n):
    """Auto batch sizing must always produce 1..9 planned batches (≈8 by
    contract) and never a zero/negative batch for any feed size."""
    from jp_qcew_spark.sources.stream_replay import _ReplayReader

    r = _ReplayReader.__new__(_ReplayReader)
    r._batch_opt = "auto"
    r._batch = max(1, -(-n // 8))  # what _batch_rows computes from metadata
    batches = -(-n // r._batch)
    assert 1 <= batches <= 9
    assert r._batch >= 1


def test_snm_pair_count_identity(spark, sf_dir):
    """Sorted-neighborhood must emit EXACTLY 3n-6 pairs (window w=3 over a
    strict total order): every position but the last three fans out to 3
    neighbors. Gross duplication — the RDD-id-seeded range-boundary
    inconsistency (r4: 15288-15882 vs the true 14994 at sf0.1) that the
    deterministic prefix-bucket positions eliminate — breaks this
    identity immediately; the sf0.1 bare-session sweep remains the
    full-scale guard."""
    from jp_qcew_spark.queries.dedup import q_dedup_sorted_neighborhood
    from jp_qcew_spark.io import load_table

    n = load_table(spark, sf_dir, "documents").count()
    pairs = q_dedup_sorted_neighborhood(spark, sf_dir)
    assert pairs.count() == 3 * n - 6
    # positions are globally unique -> (pos_a, delta) is a primary key
    assert (
        pairs.groupBy("pos_a", "delta").count().filter("count > 1").count()
        == 0
    )


def test_prefix_bucket_positions_equal_global_sort(spark):
    """The r5 SNM position scheme (bucket = 2-char key prefix; global pos =
    bucket offset + per-bucket row_number) must equal a direct global
    row_number over (key, doc_id) for ADVERSARIAL keys: empty strings,
    keys shorter than the prefix, multi-byte UTF-8, shared prefixes, and
    duplicate keys (doc_id tie-break). UTF-8 byte order preserves
    code-point order, so bucket order can never contradict key order."""
    from pyspark.sql import Window, functions as F

    keys = ["", "a", "ab", "abc", "abé", "é", "éz",
            "\U0001f600x", "zz", "z", "  lead", "ab", "aß"]
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "doc_id long, key string"
    )
    bucketed = df.withColumn("bkt", F.substring(F.col("key"), 1, 2))
    counts = bucketed.groupBy("bkt").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy(F.col("bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_local = Window.partitionBy("bkt").orderBy(
        F.col("key").asc(), F.col("doc_id").asc()
    )
    got = {
        r.doc_id: r.pos
        for r in bucketed.withColumn("lrk", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "bkt")
        .select("doc_id", (F.col("off") + F.col("lrk")).alias("pos"))
        .collect()
    }
    w_global = Window.orderBy(F.col("key").asc(), F.col("doc_id").asc())
    want = {
        r.doc_id: r.pos
        for r in df.withColumn("pos", F.row_number().over(w_global))
        .select("doc_id", "pos")
        .collect()
    }
    assert got == want
