"""The shared builders of the dedup family (``queries/dedup.py``): the
shared-item pairs ``_overlap``, the near-dup clusters and the binned pair
recall. Each Spark builder and its DuckDB twin return the same rows."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from jp_qcew_spark.queries.dedup import (
    _CAPPED_EX_SQL,
    _NEAR_DUP_SQL,
    _binned_recall,
    _binned_recall_sql,
    _capped_shingles,
    _components_sql,
    _near_dup_labels,
    _overlap,
    _overlap_sql,
)

# Docs 1~2~3 form a chain: 1 and 3 share no shingle, each shares one of
# its four with 2 (Jaccard 1/7 >= 0.1). Doc 4 has fewer than 3 words, so
# no shingles. Docs 10..42 all carry the shingle "zz yy xx", whose
# document frequency 33 is over the cap of 32; their other shingles are
# their own, so no pair among them survives the cap.
DOCS = [
    (1, "a1 a2 a3 a4 a5 a6"),
    (2, "a4 a5 a6 c1 c2 c3"),
    (3, "c1 c2 c3 c4 c5 c6"),
    (4, "hi there"),
] + [(i, f"zz yy xx u{i} v{i}") for i in range(10, 43)]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dedup_builders")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    yield str(d), con
    con.close()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _sql_rows(con, sql):
    return sorted(map(tuple, con.execute(sql).fetchall()))


def test_overlap_twins_agree(spark, corpus):
    sf, con = corpus
    ex = _capped_shingles(spark, sf)
    cols = ["doc_a", "doc_b", "inter", "sz_a", "sz_b"]
    got = _rows(_overlap(ex, ex), cols)
    sql = _sql_rows(
        con,
        f"WITH {_CAPPED_EX_SQL}, {_overlap_sql('p', 'ex')} "
        "SELECT * FROM p",
    )
    assert got == sql == [(1, 2, 1, 4, 4), (2, 3, 1, 4, 4)]
    # a slice of b as the broadcast side: sizes still come from b
    sl = _overlap(F.broadcast(ex.filter(F.col("doc_id") == 2)), ex)
    assert _rows(sl, cols) == [(2, 3, 1, 4, 4)]


def test_components_twins_agree(spark, corpus):
    from jp_qcew_spark.ext.graph import connected_components

    sf, con = corpus
    labels = [(1, 1), (2, 1), (3, 1)]
    got = _rows(_near_dup_labels(spark, sf), ["id", "comp"])
    sql = _sql_rows(
        con, f"WITH RECURSIVE {_NEAR_DUP_SQL} SELECT doc_id, comp FROM comp"
    )
    assert got == sql == labels

    # a graph whose edges point both ways along the chain, plus a second
    # component reached only through its larger id
    edges = [(1, 2), (3, 2), (9, 7), (9, 8)]
    con.execute(
        "CREATE OR REPLACE TABLE e AS SELECT * FROM (VALUES "
        + ", ".join(str(r) for r in edges)
        + ") t(src, dst)"
    )
    frame = spark.createDataFrame(edges, "src long, dst long")
    got = _rows(connected_components(frame, "src", "dst"), ["id", "comp"])
    sql = _sql_rows(
        con,
        f"WITH RECURSIVE {_components_sql('e', 'src', 'dst', 'n')} "
        "SELECT n, comp FROM comp",
    )
    assert got == sql == labels + [(7, 7), (8, 7), (9, 7)]


# (id_a, id_b, score): 0.7 sits exactly on a bin edge, so it bins up
TRUTH = [(1, 2, 0.95), (1, 3, 0.7), (1, 4, 0.69), (2, 3, 0.31), (2, 4, 0.5)]
HITS_X = [(1, 2), (1, 3), (9, 9)]  # (9, 9) is no true pair
HITS_Y = [(1, 4)]
EDGES = (0.9, 0.7, 0.5, 0.3)


def test_binned_recall_twins_agree(spark):
    truth = spark.createDataFrame(TRUTH, "id_a long, id_b long, cs double")
    hx, hy = (
        spark.createDataFrame(h, "id_a long, id_b long")
        for h in (HITS_X, HITS_Y)
    )
    keys = ["id_a", "id_b"]
    cols = ["sim_band", "n_true", "n_x", "n_y", "recall_x", "recall_y"]
    out = _binned_recall(truth, "cs", EDGES, {"x": hx, "y": hy}, keys)
    assert out.columns == cols
    got = _rows(out, cols)

    con = duckdb.connect()
    for name, rows, c in (
        ("truth", TRUTH, "id_a, id_b, cs"),
        ("hx", HITS_X, "id_a, id_b"),
        ("hy", HITS_Y, "id_a, id_b"),
    ):
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM (VALUES "
            + ", ".join(str(r) for r in rows)
            + f") t({c})"
        )
    rec = _binned_recall_sql(
        "rec", "truth", "cs", EDGES, {"x": "hx", "y": "hy"}, keys
    )
    sql = _sql_rows(con, f"WITH {rec} SELECT {', '.join(cols)} FROM rec")
    con.close()
    assert got == sql == [
        ("0.30-0.50", 1, 0, 0, 0.0, 0.0),
        ("0.50-0.70", 2, 0, 1, 0.0, 0.5),
        ("0.70-0.90", 1, 1, 0, 1.0, 0.0),
        ("0.90+", 1, 1, 0, 1.0, 0.0),
    ]
