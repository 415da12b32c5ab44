"""CLI entry point — the engine's analogue of the reference's master
command (``tools/run.py``), minus docker: one process, one SparkSession.

    python -m big_data_elt_pipeline_spark.run --source-dir DIR --lake-dir DIR
    python -m big_data_elt_pipeline_spark.run --from-testdata /root/testdata/sf0.01 --lake-dir /tmp/lake

Runs bronze→silver→gold→serving, executes the golden schema/invariant
check, and prints a JSON metrics report (stage seconds, row counts,
quality counters) — the reference's 9 subprocess stages and benchmark
script folded into one command.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source-dir", help="dir with clients.csv / achats.csv")
    ap.add_argument("--from-testdata", help="derive sources from a testdata sf dir")
    ap.add_argument("--lake-dir", required=True)
    ap.add_argument("--min-date", default="1990-01-01")
    ap.add_argument("--max-amount", type=float, default=1e9)
    ap.add_argument("--skip-golden-check", action="store_true")
    args = ap.parse_args(argv)

    from big_data_elt_pipeline_spark import pipeline as P
    from big_data_elt_pipeline_spark.session import get_spark

    spark = get_spark("run")
    source_dir = args.source_dir
    if args.from_testdata:
        from big_data_elt_pipeline_spark.sources import tpch
        from big_data_elt_pipeline_spark.streaming import staging_dir

        source_dir = staging_dir("sources", args.from_testdata)
        tpch.clients_df(spark, args.from_testdata).write.mode("overwrite").option(
            "header", True
        ).csv(f"{source_dir}/clients.csv")
        (
            tpch.achats_df(spark, args.from_testdata)
            .write.mode("overwrite")
            .option("header", True)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .csv(f"{source_dir}/achats.csv")
        )
    if not source_dir:
        ap.error("need --source-dir or --from-testdata")

    result = P.run_medallion(
        spark, source_dir, args.lake_dir,
        min_date=args.min_date, max_amount=args.max_amount,
    )
    if not args.skip_golden_check:
        result["golden_check"] = P.golden_check(spark, args.lake_dir)
    print(json.dumps(result, default=str))
    return 1 if result.get("golden_check") else 0


if __name__ == "__main__":
    sys.exit(main())
