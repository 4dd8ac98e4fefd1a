"""CLI for the QCEW pipeline — the engine's analog of the reference's
``main.py`` (which just runs the ETL; README.md:58-73). Subcommands cover the
full vertical: ETL → NAICS aggregate → wages series.

Usage:
    python -m jp_qcew_spark etl --input 'data/qcew/*/*' --output data/parquet
    python -m jp_qcew_spark naics --data data/parquet [--output out.parquet]
    python -m jp_qcew_spark wages --facts data_y.csv --frame yearly \
        --desc naics_desc.csv --invalid invalid_naics.csv \
        --measure total_wages [--label '(N5415) ...'] [--list-labels]
"""

from __future__ import annotations

import argparse
import sys


def _spark():
    from jp_qcew_spark.session import get_spark

    return get_spark(app_name="jp_qcew_spark_cli")


def cmd_etl(args: argparse.Namespace) -> int:
    from jp_qcew_spark.operators.etl import run_etl

    df = run_etl(_spark(), args.input, args.output)
    n = df.count()
    parts = df.select("file_year", "file_qtr").distinct().count()
    print(f"etl: wrote {n} records across {parts} (year,qtr) partitions -> {args.output}")
    return 0


def cmd_naics(args: argparse.Namespace) -> int:
    from jp_qcew_spark.io import order_result
    from jp_qcew_spark.operators.naics import naics4_aggregate

    spark = _spark()
    agg = order_result(
        naics4_aggregate(spark.read.parquet(args.data)), "year", "qtr", "naics4"
    )
    if args.output:
        agg.write.mode("overwrite").parquet(args.output)
        print(f"naics: wrote {agg.count()} aggregate rows -> {args.output}")
    else:
        agg.show(args.limit, truncate=False)
    return 0


def cmd_wages(args: argparse.Namespace) -> int:
    from jp_qcew_spark.operators.wages import (
        enrich_wages,
        filter_wages_data,
        label_domain,
        load_wage_facts,
    )

    spark = _spark()
    facts = load_wage_facts(spark, args.facts, args.frame)
    desc = spark.read.csv(args.desc, header=True)
    invalid = spark.read.csv(args.invalid, header=True)
    enriched = enrich_wages(facts, desc, invalid)
    if args.list_labels:
        for lbl in label_domain(enriched):
            print(lbl)
        return 0
    if not args.label:
        print("error: provide --label or --list-labels", file=sys.stderr)
        return 2
    filter_wages_data(enriched, args.measure, args.label).show(
        args.limit, truncate=False
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="jp_qcew_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="fixed-width QCEW -> partitioned parquet")
    etl.add_argument("--input", required=True, help="text file glob")
    etl.add_argument("--output", required=True, help="parquet dataset dir")
    etl.set_defaults(fn=cmd_etl)

    naics = sub.add_parser("naics", help="NAICS4 suppressed aggregate")
    naics.add_argument("--data", required=True, help="ETL parquet dir")
    naics.add_argument("--output", help="write parquet instead of show")
    naics.add_argument("--limit", type=int, default=20)
    naics.set_defaults(fn=cmd_naics)

    wages = sub.add_parser("wages", help="wage time-series")
    wages.add_argument("--facts", required=True)
    wages.add_argument("--frame", required=True,
                       choices=["yearly", "fiscal", "quarterly"])
    wages.add_argument("--desc", required=True)
    wages.add_argument("--invalid", required=True)
    wages.add_argument("--measure", default="total_wages")
    wages.add_argument("--label")
    wages.add_argument("--list-labels", action="store_true")
    wages.add_argument("--limit", type=int, default=50)
    wages.set_defaults(fn=cmd_wages)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
