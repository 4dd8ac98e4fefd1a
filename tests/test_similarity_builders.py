"""The shared top-k and recall builders of ``queries/similarity.py``: each
Spark builder and its DuckDB twin return the same rows, and the queries
that share a builder agree with each other."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from jp_qcew_spark.queries.similarity import (
    _recall,
    _recall_sql,
    _topk,
    _topk_sql,
)

# (g, query_id, neighbor_id, score). Group 1, query 0: a score tie
# (neighbors 2 and 3 at 0.5) for the second slot; group 1, query 1: one
# candidate for a top-2 cut; group 2 hits no truth row; group 3 has no
# candidates at all.
CAND = [
    (1, 0, 1, 0.9),
    (1, 0, 3, 0.5),
    (1, 0, 2, 0.5),
    (1, 0, 4, 0.1),
    (1, 1, 5, 0.3),
    (2, 0, 7, 0.8),
    (2, 0, 8, 0.7),
    (2, 0, 9, 0.6),
]
TRUTH = [(0, 1), (0, 3), (1, 5), (1, 6)]
GROUPS = [(1,), (2,), (3,)]


@pytest.fixture(scope="module")
def frames(spark):
    return (
        spark.createDataFrame(
            CAND, "g long, query_id long, neighbor_id long, score double"
        ),
        spark.createDataFrame(TRUTH, "query_id long, neighbor_id long"),
        spark.createDataFrame(GROUPS, "g long"),
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE cand AS SELECT * FROM (VALUES "
        + ", ".join(str(r) for r in CAND)
        + ") t(g, query_id, neighbor_id, score)"
    )
    c.execute(
        "CREATE TABLE truth AS SELECT * FROM (VALUES "
        + ", ".join(str(r) for r in TRUTH)
        + ") t(query_id, neighbor_id)"
    )
    c.execute(
        "CREATE TABLE groups AS SELECT * FROM (VALUES (1), (2), (3)) t(g)"
    )
    yield c
    c.close()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _sql_rows(con, sql):
    return sorted(map(tuple, con.execute(sql).fetchall()))


def test_topk_twins_agree(frames, con):
    cand, _truth, _groups = frames
    cols = ["g", "query_id", "neighbor_id", "rk"]
    keys = ["g", "query_id"]
    got = _rows(_topk(cand, keys, F.col("score").desc(), 2), cols)
    top_sql = _topk_sql("top", "cand", keys, "score DESC", 2, ", ".join(cols))
    sql = _sql_rows(con, f"WITH {top_sql} SELECT * FROM top")
    assert got == sql == [
        (1, 0, 1, 1),
        (1, 0, 2, 2),  # the 0.5 tie goes to the smaller id
        (1, 1, 5, 1),  # fewer candidates than k: the one row stays
        (2, 0, 7, 1),
        (2, 0, 8, 2),
    ]


def test_recall_twins_agree(frames, con):
    cand, truth, groups = frames
    top = _topk(cand, ["g", "query_id"], F.col("score").desc(), 2)
    top_sql = _topk_sql(
        "top", "cand", ["g", "query_id"], "score DESC", 2, "*"
    )

    # grouped, divided by |truth|: a group without hits reads 0
    got = _rows(_recall(truth, top, groups, ["g"]), ["g", "recall_at3"])
    sql = _sql_rows(
        con,
        f"WITH {top_sql}, "
        f"{_recall_sql('rec', 'truth', 'top', 'groups', ['g'])} "
        "SELECT g, recall_at3 FROM rec",
    )
    assert got == sql == [(1, 0.5), (2, 0.0), (3, 0.0)]

    # per query, divided by k, with the hit count
    g1 = top.filter(F.col("g") == 1)
    qs = truth.select("query_id").distinct()
    got = _rows(
        _recall(truth, g1, qs, ["query_id"], "r", 3, 4, "n"),
        ["query_id", "n", "r"],
    )
    rec = _recall_sql("rec", "truth", "g1", "qs", ["query_id"], "r", 3, 4, "n")
    sql = _sql_rows(
        con,
        f"WITH {top_sql}, g1 AS (SELECT * FROM top WHERE g = 1), "
        f"qs AS (SELECT DISTINCT query_id FROM truth), {rec} "
        "SELECT query_id, n, r FROM rec",
    )
    assert got == sql == [(0, 1, 0.3333), (1, 1, 0.3333)]

    # no keys: one global ratio onto a one-row frame
    one = groups.filter(F.col("g") == 2)
    got = _rows(_recall(truth, g1, one), ["g", "recall_at3"])
    sql = _sql_rows(
        con,
        f"WITH {top_sql}, g1 AS (SELECT * FROM top WHERE g = 1), "
        "one AS (SELECT * FROM groups WHERE g = 2), "
        f"{_recall_sql('rec', 'truth', 'g1', 'one')} "
        "SELECT g, recall_at3 FROM rec",
    )
    assert got == sql == [(2, 0.5)]


def test_rerank_sweep_r10_is_rerank_recall(spark, sf_dir):
    """``knn_ivfpq_rerank`` is the sweep's R = ``_PQ_RERANK_R`` cut of one
    shared refine stage: the sweep's recall at that R equals the rerank
    rows' hits against the exact-L2 truth over the truth count."""
    from jp_qcew_spark.queries.similarity import (
        _PQ_RERANK_R,
        _pq_exact3_t,
        q_knn_ivfpq_rerank,
        q_knn_ivfpq_rerank_sweep,
    )

    sweep = {
        r["r"]: r["recall_at3"]
        for r in q_knn_ivfpq_rerank_sweep(spark, sf_dir).collect()
    }
    rerank = {
        (r["query_id"], r["neighbor_id"])
        for r in q_knn_ivfpq_rerank(spark, sf_dir).collect()
    }
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in _pq_exact3_t(spark, sf_dir).collect()
    }
    assert sweep[_PQ_RERANK_R] == round(len(rerank & truth) / len(truth), 6)
