"""spark-submit entry point (north rule: the engine runs via
``spark-submit --py-files gdal_spark.zip``).

Usage::

    spark-submit [--master …] -m gdal_spark <query> [options]
    python -m gdal_spark <query> --sf-dir /root/testdata/sf0.01

Subcommands:

- ``list``                 — print every registered contract query
- ``<query-name>``         — run that query and print/save the result
- ``entry``                — run the flagship pipeline (smoke contract)

Options: ``--sf-dir`` (input table directory), ``--output`` (parquet
destination instead of stdout preview), ``--limit`` (preview rows,
default 20), ``--master`` (only when not launched by spark-submit —
under spark-submit the active session's master wins).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser(prog="gdal_spark")
    ap.add_argument("query", help="'list', 'entry', or a queries() name")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.01"))
    ap.add_argument("--output", default=None,
                    help="write result as parquet here instead of stdout")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--master", default=None,
                    help="Spark master when self-launching (ignored "
                         "under spark-submit, which provides one)")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as contract

    qs = contract.queries()
    if args.query == "list":
        for name in qs:
            print(name)
        return 0

    from gdal_spark.session import get_spark

    spark = get_spark("gdal_spark-cli", master=args.master or "local[*]")
    try:
        if args.query == "entry":
            df = contract.entry(spark)
        elif args.query in qs:
            df = qs[args.query](spark, args.sf_dir)
        else:
            print(f"unknown query {args.query!r} — try 'list'",
                  file=sys.stderr)
            return 2
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        else:
            df.show(args.limit, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
