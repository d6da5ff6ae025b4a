"""CLI for the medallion jobs — the spark-submit entry points the
Airflow DAGs (or any scheduler) invoke:

    python -m bootcamp_stackacademy_datalake_minio_airflow_spark.jobs \
        bronze-to-silver orders --base s3a://
    python -m bootcamp_stackacademy_datalake_minio_airflow_spark.jobs \
        vendas-gold --base /tmp/lake
    python -m bootcamp_stackacademy_datalake_minio_airflow_spark.jobs \
        publish-jdbc --url jdbc:mysql://host:3306/BD_STACK
"""

from __future__ import annotations

import argparse

from ..schemas import OLIST_SCHEMAS
from ..session import get_spark
from .bronze_to_silver import bronze_to_silver
from .silver_to_gold_vendas import publish_vendas_jdbc, vendas_gold


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bootcamp-spark-jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    b2s = sub.add_parser("bronze-to-silver", help="ingest one Olist table")
    b2s.add_argument("table", choices=sorted(OLIST_SCHEMAS))
    b2s.add_argument("--base", default=None, help="lake base URI (default $LAKE_BASE)")

    gold = sub.add_parser("vendas-gold", help="build the gold vendas table")
    gold.add_argument("--base", default=None)

    pub = sub.add_parser("publish-jdbc", help="publish gold vendas to MySQL")
    pub.add_argument("--base", default=None)
    pub.add_argument("--url", default=None)
    pub.add_argument("--table", default="TB_VENDAS")

    args = p.parse_args(argv)
    s3 = args.base is None or str(args.base).startswith("s3a://")
    spark = get_spark(f"job-{args.cmd}", with_s3=s3)

    if args.cmd == "bronze-to-silver":
        df = bronze_to_silver(spark, args.table, base=args.base)
        print(f"ingested {args.table}: {len(df.columns)} columns")
    elif args.cmd == "vendas-gold":
        df = vendas_gold(spark, base=args.base)
        print(f"vendas gold built: {len(df.columns)} columns")
    elif args.cmd == "publish-jdbc":
        publish_vendas_jdbc(spark, base=args.base, url=args.url, table=args.table)
        print(f"published to {args.table}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
