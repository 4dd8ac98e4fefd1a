"""QCEW vertical slice: decode → ETL → NAICS aggregate → wages → time-series.

Golden comparisons run the FIXTURES.md §D SQL in DuckDB over the SAME typed
records the Spark pipeline produced — semantics-parity, not bug-parity
(SURVEY §7.3).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from jp_qcew_spark.operators.etl import run_etl
from jp_qcew_spark.operators.naics import naics4_aggregate
from jp_qcew_spark.operators.timeseries import (
    resample_quarterly,
    resample_yearly,
    to_monthly,
    with_diffs,
)
from jp_qcew_spark.operators.wages import (
    enrich_wages,
    filter_wages_data,
    label_domain,
    load_wage_facts,
)
from jp_qcew_spark.sources.fixed_width import decode_qcew, typed_qcew
from tests.harness import compare
from tests.qcew_fixtures import gen_dims, gen_qcew_tree, gen_wage_facts, make_line


@pytest.fixture(scope="module")
def qcew_dirs(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("qcew_fix"))
    root = gen_qcew_tree(base)
    desc, invalid = gen_dims(base)
    facts = gen_wage_facts(base)
    return {"base": base, "root": root, "desc": desc, "invalid": invalid, **facts}


@pytest.fixture(scope="module")
def etl_out(spark, qcew_dirs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qcew_parquet"))
    df = run_etl(spark, qcew_dirs["root"] + "/*/*", out)
    return out, df


def test_decoder_positions(spark):
    """Off-by-one guard: known values at known 1-based positions round-trip."""
    line = make_line(
        {
            "trans_code": "A",
            "state_fips": "72",
            "year": "2015",
            "qtr": "3",
            "ein": "123456789",
            "naics_code": "541511",
            "total_wages": "42",
            "latitude": "18.2208",
        }
    )
    assert len(line) == 1060
    raw = spark.createDataFrame([(line,)], ["value"])
    row = typed_qcew(decode_qcew(raw)).collect()[0]
    assert row["trans_code"] == "A"
    assert row["state_fips"] == "72"
    assert row["year"] == 2015
    assert row["qtr"] == 3
    assert row["ein"] == "123456789"
    assert row["naics_code"] == "541511"
    assert row["total_wages"] == 42
    assert row["latitude"] == pytest.approx(18.2208)
    assert row["future_use"] == ""


def test_cast_junk_to_null(spark):
    raw = spark.createDataFrame(
        [(make_line({"year": "2O15", "first_month_employment": "     *"}),)],
        ["value"],
    )
    row = typed_qcew(decode_qcew(raw)).collect()[0]
    assert row["year"] is None
    assert row["first_month_employment"] is None


def test_etl_mode_keying_and_partitions(etl_out):
    out, df = etl_out
    # 8 real (year, qtr) partitions; corrupt/minority lines keyed to the
    # file's MODAL (year, qtr), so no 2200 partition exists
    parts = {
        (r["file_year"], r["file_qtr"])
        for r in df.select("file_year", "file_qtr").distinct().collect()
    }
    assert parts == {(y, q) for y in (2015, 2016) for q in (1, 2, 3, 4)}
    # the read-back carries the written schema: partition keys keep the
    # type of the (year, qtr) they were keyed from, not one inferred from
    # directory names
    types = dict(df.dtypes)
    assert types["file_year"] == types["year"] == "bigint"
    assert types["file_qtr"] == types["qtr"] == "bigint"
    assert df.columns[-2:] == ["file_year", "file_qtr"]
    # dirty years survive as DATA (year column), just not as partition keys
    assert df.filter(F.col("year") == 2200).count() > 0


def test_etl_idempotent_rerun(spark, qcew_dirs, etl_out):
    out, df = etl_out
    n1 = df.count()
    df2 = run_etl(spark, qcew_dirs["root"] + "/*/*", out)
    assert df2.count() == n1  # dynamic overwrite, not append-duplication


def _partitions(out):
    return sorted(
        os.path.relpath(p, out) for p in glob.glob(os.path.join(out, "*", "*"))
    )


def test_etl_overwrite_mode_is_per_write(spark, qcew_dirs, tmp_path):
    """``incremental`` picks the overwrite mode for run_etl's own write and
    leaves the caller's session conf alone: a re-run over one year's files
    keeps the other year's partitions when incremental and replaces them
    otherwise, whatever the session says."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    root, out = qcew_dirs["root"], str(tmp_path / "out")
    try:
        run_etl(spark, root + "/*/*", out)
        both = _partitions(out)
        assert len(both) == 8
        spark.conf.set(key, "static")
        run_etl(spark, root + "/2015/*", out, incremental=True)
        assert spark.conf.get(key) == "static"
        assert _partitions(out) == both
        spark.conf.set(key, "dynamic")
        run_etl(spark, root + "/2015/*", out, incremental=False)
        assert spark.conf.get(key) == "dynamic"
        assert _partitions(out) == [p for p in both if "file_year=2015" in p]
    finally:
        spark.conf.set(key, before)


def test_run_etl_warm_job_count(spark, qcew_dirs, tmp_path):
    """A warm run_etl launches 4 Spark jobs (its read-back infers no
    schema); a rise is the first sign of a re-planned or re-scanned
    stage."""
    from tests.test_io_helpers import count_jobs

    root = qcew_dirs["root"] + "/*/*"
    run_etl(spark, root, str(tmp_path / "cold"))
    with count_jobs(spark) as n:
        run_etl(spark, root, str(tmp_path / "warm"))
    assert n == [4]


def test_naics_aggregate_matches_duckdb_golden(etl_out, spark):
    out, _ = etl_out
    df = spark.read.parquet(out)  # fresh listing (rerun test replaced files)
    agg = naics4_aggregate(df).orderBy("year", "qtr", "naics4")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW qcew_clean AS SELECT * FROM read_parquet('{out}/*/*/*.parquet', hive_partitioning=1)"
    )
    golden = """
    WITH base AS (
      SELECT year, qtr, substr(naics_code, 1, 4) AS naics4,
             (first_month_employment + second_month_employment
              + third_month_employment) / 3.0 AS total_employment,
             total_wages
      FROM qcew_clean WHERE substr(naics_code, 1, 4) <> ''
    )
    SELECT year, qtr, naics4,
           CAST(sum(total_wages) AS BIGINT) AS total_wages,
           avg(total_employment) AS total_employment,
           count(*) AS dummy,
           CAST(sum(total_wages) * 0.014  AS DOUBLE) AS fondo_contributions,
           CAST(sum(total_wages) * 0.0145 AS DOUBLE) AS medicare_contributions,
           CAST(sum(total_wages) * 0.062  AS DOUBLE) AS ssn_contributions
    FROM base GROUP BY year, qtr, naics4 HAVING count(*) > 4
    ORDER BY year, qtr, naics4
    """
    problems = compare(agg, con, golden, "naics_golden")
    assert not problems, "\n".join(problems)
    # suppression invariant: no group under 5 establishments ever emitted
    assert agg.filter(F.col("dummy") < 5).count() == 0


@pytest.mark.parametrize("frame,key_type", [
    ("yearly", "bigint"),
    ("fiscal", "bigint"),
    ("quarterly", "string"),
])
def test_wages_time_period(spark, qcew_dirs, frame, key_type):
    facts = load_wage_facts(spark, qcew_dirs[frame], frame)
    assert dict(facts.dtypes)["time_period"] == key_type
    if frame == "quarterly":
        assert facts.select("time_period").first()[0].count("-q") == 1


def test_wages_invalid_frame(spark, qcew_dirs):
    with pytest.raises(ValueError):
        load_wage_facts(spark, qcew_dirs["yearly"], "monthly")


def test_wages_enrich_and_filter(spark, qcew_dirs):
    facts = load_wage_facts(spark, qcew_dirs["yearly"], "yearly")
    desc = spark.read.csv(qcew_dirs["desc"], header=True)
    invalid = spark.read.csv(qcew_dirs["invalid"], header=True)
    enriched = enrich_wages(facts, desc, invalid)
    # invalid codes excluded, "0" excluded
    got_codes = {
        r[0] for r in enriched.select("naics_4digit").distinct().collect()
    }
    assert "9999" not in got_codes and "8888" not in got_codes
    assert "0" not in got_codes
    labels = label_domain(enriched)
    assert labels == sorted(labels) and len(labels) > 0
    assert labels[0].startswith("(N")
    series = filter_wages_data(enriched, "total_wages", labels[0])
    rows = series.collect()
    assert [r["time_period"] for r in rows] == sorted(
        r["time_period"] for r in rows
    )
    assert set(series.columns) == {"time_period", "nominas"}
    # DuckDB cross-check of the whole wages chain
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW facts AS SELECT * FROM read_csv_auto('{qcew_dirs['yearly']}')"
    )
    con.execute(
        f"CREATE VIEW descs AS SELECT * FROM read_csv_auto('{qcew_dirs['desc']}', all_varchar=1)"
    )
    con.execute(
        f"CREATE VIEW inval AS SELECT * FROM read_csv_auto('{qcew_dirs['invalid']}', all_varchar=1)"
    )
    label = labels[0].replace("'", "''")
    oracle = f"""
    WITH enr AS (
      SELECT f.*, CAST(f.year AS BIGINT) AS time_period,
             substr(CAST(f.naics_code AS VARCHAR), 1, 4) AS naics_4digit
      FROM facts f
    ), joined AS (
      SELECT enr.*, '(N' || enr.naics_4digit || ') ' || d.naics_desc AS lbl
      FROM enr LEFT JOIN descs d ON enr.naics_4digit = d.naics_4digit
      WHERE enr.naics_4digit <> '0'
        AND NOT EXISTS (SELECT 1 FROM inval i WHERE i.naics_data = enr.naics_4digit)
    )
    SELECT time_period, sum(CAST(total_wages AS DOUBLE)) AS nominas
    FROM joined
    WHERE total_wages IS NOT NULL AND trim(CAST(total_wages AS VARCHAR)) <> ''
      AND lbl = '{label}'
    GROUP BY time_period ORDER BY time_period
    """
    problems = compare(series, con, oracle, "wages_series")
    assert not problems, "\n".join(problems)


def test_timeseries_unpivot_resample(spark, etl_out):
    out, _ = etl_out
    df = spark.read.parquet(out)
    quarterly = df.filter(
        (F.col("year").isin(2015, 2016)) & F.col("qtr").isNotNull()
    ).select(
        "year",
        "qtr",
        "first_month_employment",
        "second_month_employment",
        "third_month_employment",
    )
    monthly = to_monthly(quarterly)
    # 3 months per quarterly row
    assert monthly.count() == quarterly.count() * 3
    months = {r[0] for r in monthly.select("month").distinct().collect()}
    assert months == set(range(1, 13))
    assert monthly.filter(F.col("date").isNull()).count() == 0

    yearly = resample_yearly(monthly)
    qly = resample_quarterly(monthly)
    assert yearly.count() == 2
    assert qly.count() == 8
    # mean-of-months == mean over the unpivoted values (cross-check one year)
    y2015 = yearly.filter(F.col("year") == 2015).first()["employment"]
    manual = monthly.filter(F.col("year") == 2015).agg(
        F.avg("employment")
    ).first()[0]
    assert y2015 == pytest.approx(manual)

    diffed = with_diffs(
        qly.withColumn("series", F.lit("all")), "employment", ["series"], "date"
    )
    rows = diffed.orderBy("date").collect()
    assert rows[0]["employment_diff"] is None
    for a, b in zip(rows, rows[1:]):
        assert b["employment_diff"] == pytest.approx(
            b["employment"] - a["employment"]
        )


def test_catalog_sink_saveastable(etl_out, spark, tmp_path_factory):
    """S10 (SURVEY §2.A): catalog-managed table sink — saveAsTable with
    (year, qtr) partitioning replaces the reference's legacy DuckDB .ddb
    persistence (reference README.md:7,56,65); readers address the table by
    name and still get partition pruning."""
    out, _ = etl_out
    df = spark.read.parquet(out)  # fresh listing (rerun test replaced files)
    wh = str(tmp_path_factory.mktemp("warehouse"))
    (
        df.write.mode("overwrite")
        .partitionBy("file_year", "file_qtr")
        .format("parquet")
        .option("path", os.path.join(wh, "qcew"))
        .saveAsTable("qcew")
    )
    back = spark.table("qcew")
    assert back.count() == df.count()
    one = back.filter(F.col("file_year") == 2015).filter(F.col("file_qtr") == 1)
    from jp_qcew_spark.plans.inspect import formatted_plan

    plan = formatted_plan(one)
    # partition pruning reached the scan
    assert "PartitionFilters" in plan
    spark.sql("DROP TABLE IF EXISTS qcew")


def test_register_views_sql_surface(spark):
    """spark.sql over registered views ≡ the DataFrame API (the embedded
    SQL-over-files surface, SURVEY §1.1)."""
    from jp_qcew_spark.io import load_table, register_views

    register_views(spark, "/root/testdata/sf0.001")
    via_sql = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"
    ).collect()
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    via_df = (
        li.groupBy("l_returnflag").agg(F.count("*").alias("n")).orderBy("l_returnflag")
    ).collect()
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_df]


def test_latin1_roundtrip(spark, tmp_path):
    """S1 encoding contract (SURVEY §7.2 stage-1 risk): QCEW files are
    latin-1 (Puerto Rico names carry ñ/é/ü). Bytes written as ISO-8859-1
    must decode to the right characters — a UTF-8 misread would mangle every
    name field."""
    name = "COMPAÑÍA AZUCARERA JOSÉ MUÑOZ"
    line = make_line(
        {
            "leg_corp_name": name,
            "year": "2015",
            "qtr": "1",
            "trade_name": "CAFÉ",
            "naics_code": "541511",
            "qcew_contact_website": "www.ejemplo.pr",
        }
    )
    p = tmp_path / "latin1.txt"
    p.write_bytes((line + "\n").encode("iso-8859-1"))
    from jp_qcew_spark.sources.fixed_width import read_qcew_text

    row = typed_qcew(decode_qcew(read_qcew_text(spark, str(p)))).first()
    assert row["leg_corp_name"] == name
    assert row["year"] == 2015
    # fields after the two-byte ñ/é, in the same chunk and in later ones:
    # slices count characters, not bytes
    assert row["trade_name"] == "CAFÉ"
    assert row["naics_code"] == "541511"
    assert row["qcew_contact_website"] == "www.ejemplo.pr"


@pytest.mark.parametrize(
    "ws", list(" \t\r\n\x0b\x0c"), ids=["sp", "tab", "cr", "lf", "vt", "ff"]
)
def test_decode_trims_each_whitespace_char(spark, ws):
    """Each of the six chars of the reference's whitespace class is
    stripped from both edges of a field, and nowhere else; a char outside
    the class (ESC) is kept. Every one of the 121 fields is checked
    against a Python slice-and-strip of the same line, with ñ/é ahead of
    the dirty fields in the first and last chunks."""
    from jp_qcew_spark.schema.qcew_fields import FIELDS

    line = make_line(
        {
            "leg_corp_name": "ÑñÉé" * 8,
            "naics_code": f"{ws}5415{ws}",
            "year": f"{ws}20{ws}",
            "rep_unit_desc": f"{ws}a{ws}b{ws}",
            "qcew_contact_website": f"{ws}{ws}w.pr{ws}{ws}",
            "future_use": f"\x1b{ws}x{ws}\x1b",
        }
    )
    row = decode_qcew(spark.createDataFrame([(line,)], "value string")).first()
    want = {
        name: line[pos - 1 : pos - 1 + length].strip(" \t\r\n\x0b\x0c")
        for name, pos, length in FIELDS
    }
    assert row.asDict() == want
    assert row["naics_code"] == "5415"
    assert row["rep_unit_desc"] == f"a{ws}b"
    assert row["future_use"] == f"\x1b{ws}x{ws}\x1b"


def test_typed_cast_fractional_truncates(spark):
    """Pin the intended malformed-field semantics (ADVICE r5): the
    non-ANSI cast TRUNCATES a fractional string in an integer field
    ('1.5' -> 1) where try_cast would yield NULL, and still nulls
    genuinely unparseable and blank slices. QCEW integer fields are
    whole-number counts, so a fractional string is corrupt input either
    way — the lenient truncation is deliberate, documented in
    sources/fixed_width.py::typed_qcew."""
    from pyspark.sql import Row

    from jp_qcew_spark.schema.qcew_fields import FLOAT_FIELDS, INT_FIELDS
    from jp_qcew_spark.sources.fixed_width import typed_qcew

    def rec(year):
        vals = {c: "1" for c in INT_FIELDS}
        vals.update({c: "0.5" for c in FLOAT_FIELDS})
        vals["year"] = year
        return Row(**vals)

    df = spark.createDataFrame([rec("1.5"), rec("7"), rec("x"), rec("")])
    got = {
        r["year"] for r in typed_qcew(df).select("year").collect()
    }
    # '1.5' truncates to 1 (try_cast would say None); 'x' and '' null out
    assert got == {1, 7, None}
    # float fields parse fractionals exactly as doubles
    lat = typed_qcew(df).select("latitude").first()["latitude"]
    assert lat == 0.5
