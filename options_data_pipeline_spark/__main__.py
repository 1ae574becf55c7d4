"""Command-line entry point: run any registry query from a shell.

The reference drives its pipelines from Prefect flows; this engine's
equivalent operational surface is a CLI over the same registry the
driver contract exposes:

    python -m options_data_pipeline_spark list
    python -m options_data_pipeline_spark run daily_sessions \
        --sf-dir /root/testdata/sf0.01 --limit 20
    python -m options_data_pipeline_spark oracle daily_sessions

``run`` prints the result as JSON lines (stable column order) so output
composes with jq/duckdb; ``oracle`` prints the DuckDB twin SQL for
eyeballing or running elsewhere.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="options_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registry query names")
    runp = sub.add_parser("run", help="run one query, print JSON lines")
    runp.add_argument("query")
    runp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    runp.add_argument("--limit", type=int, default=0, help="0 = no limit")
    orap = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    orap.add_argument("query")
    exp = sub.add_parser(
        "explain", help="print a registry query's formatted physical plan"
    )
    exp.add_argument("query")
    exp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    sqlp = sub.add_parser(
        "sql",
        help="run ad-hoc Spark SQL with the benchmark tables registered "
        "as temp views (region nation customer supplier part orders "
        "lineitem events documents embeddings)",
    )
    sqlp.add_argument("statement")
    sqlp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    sqlp.add_argument("--limit", type=int, default=0, help="0 = no limit")
    args = p.parse_args(argv)

    from .plans import registry

    if args.cmd == "list":
        for name in registry.queries():
            print(name)
        return 0
    if args.cmd == "oracle":
        sql = registry.oracle_sql().get(args.query)
        if sql is None:
            print(f"no oracle for {args.query!r}", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    if args.cmd == "explain":
        fn = registry.queries().get(args.query)
        if fn is None:
            print(f"unknown query {args.query!r} (see `list`)", file=sys.stderr)
            return 1
        from .session import get_spark

        spark = get_spark(app_name=f"cli-explain-{args.query}")
        df = fn(spark, args.sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        print(df._jdf.queryExecution().explainString(mode))
        return 0

    if args.cmd == "sql":
        from .session import get_spark
        from .sources.tables import register_views

        spark = get_spark(app_name="cli-sql")
        register_views(spark, args.sf_dir)
        df = spark.sql(args.statement)
        if args.limit:
            df = df.limit(args.limit)
        cols = df.columns
        for row in df.toLocalIterator():
            print(json.dumps({c: _jsonable(row[c]) for c in cols}, default=str))
        return 0

    fn = registry.queries().get(args.query)
    if fn is None:
        print(f"unknown query {args.query!r} (see `list`)", file=sys.stderr)
        return 1
    from .session import get_spark

    spark = get_spark(app_name=f"cli-{args.query}")
    df = fn(spark, args.sf_dir)
    if args.limit:
        df = df.limit(args.limit)
    cols = df.columns
    for row in df.toLocalIterator():
        print(json.dumps({c: _jsonable(row[c]) for c in cols}, default=str))
    return 0


def _jsonable(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


if __name__ == "__main__":
    sys.exit(main())
