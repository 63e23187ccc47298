"""Command-line surface: ``crawl`` and ``report <action>``.

The reference ships two entry points — the ``storcrawl`` crawler
(storcrawl.py:638-641) and ``report.py ACTION`` with a fixed action menu
(report.py:211-235).  This CLI keeps the same verbs and action names over
the Spark engine and the Parquet lake:

    python -m storage_crawler_spark crawl --dir /data --tag mytag --lake /lake
    python -m storage_crawler_spark report --tag mytag --lake /lake status-brief
    python -m storage_crawler_spark report --tag mytag --lake /lake large_old_files --format json
    python -m storage_crawler_spark query tpch_q1_pricing_summary --sf-dir /root/testdata/sf0.001
    python -m storage_crawler_spark list

Config layering mirrors the reference (flags ← STORCRAWL_* env ← defaults,
storcrawl.py:16-51) via CrawlConfig.from_env.
"""

from __future__ import annotations

import argparse
import sys

# The reference's report actions (report.py:211-235), mapped to handlers.
REPORT_ACTIONS = (
    "schema-status",
    "schema-files",
    "schema-all",
    "status",
    "status-brief",
    "status-full",
    "status-averages",
    "status-events",
    "1000",
    "large_old_files",
    # aggregate tier beyond the reference menu (reports/usage.py): du-style
    # subtree rollup, per-extension and per-owner usage over a crawled tag
    "du",
    "extension-usage",
    "owner-usage",
)


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="storage_crawler_spark")
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("crawl", help="crawl directory trees into the lake")
    c.add_argument("--dir", action="append", required=True, help="crawl root (repeatable)")
    c.add_argument("--tag", default="crawl")
    c.add_argument("--lake", required=True, help="lake root directory")
    c.add_argument("--owners", default=None, help="owner=dir1:dir2 map file")
    c.add_argument("--exclude", action="append", default=None, help="dir names to not descend into")
    c.add_argument("--extension-length", type=int, default=6)

    r = sub.add_parser("report", help="run a report action over a crawled tag")
    r.add_argument("action", choices=REPORT_ACTIONS)
    r.add_argument("--tag", default="crawl")
    r.add_argument("--lake", required=True)
    r.add_argument("--format", choices=("csv", "json"), default="csv")

    q = sub.add_parser("query", help="run a registry query (SURVEY §2 inventory)")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--format", choices=("csv", "json"), default="csv")
    q.add_argument("--limit", type=int, default=50)

    sub.add_parser("list", help="list registry queries")
    return p


def _report_df(spark, args):
    from storage_crawler_spark.reports import queries as RQ
    from storage_crawler_spark.sources import read_files, read_status

    action = args.action.lower()
    if action.startswith("schema"):
        frames = []
        if action in ("schema-status", "schema-all"):
            read_status(spark, args.lake, args.tag).createOrReplaceTempView("status")
            frames.append(RQ.table_schema(spark, "status"))
        if action in ("schema-files", "schema-all"):
            read_files(spark, args.lake, args.tag).createOrReplaceTempView("files")
            frames.append(RQ.table_schema(spark, "files"))
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df
    if action in ("status", "status-brief"):
        return RQ.status_brief(read_status(spark, args.lake, args.tag))
    if action == "status-full":
        return RQ.status_full(read_status(spark, args.lake, args.tag))
    if action == "status-averages":
        return RQ.status_averages(read_status(spark, args.lake, args.tag))
    if action == "status-events":
        return RQ.status_events(read_status(spark, args.lake, args.tag))
    if action == "1000":
        return RQ.first_thousand(read_files(spark, args.lake, args.tag))
    if action == "large_old_files":
        return RQ.large_old_files(read_files(spark, args.lake, args.tag))
    if action in ("du", "extension-usage", "owner-usage"):
        from storage_crawler_spark.plans.dialect import SPARK
        from storage_crawler_spark.reports import usage as RU

        gen = {
            "du": RU.gen_subtree_du,
            "extension-usage": RU.gen_extension_usage,
            "owner-usage": RU.gen_owner_usage,
        }[action]
        # crawled paths are BINARY (byte-faithful); the rollups are
        # string ops, so read them as UTF-8 — a byte sequence that is not
        # valid UTF-8 becomes U+FFFD instead of failing the report
        files = read_files(spark, args.lake, args.tag)
        if dict(files.dtypes).get("path") == "binary":
            from storage_crawler_spark.functions.paths import path_str_col

            files = files.withColumn("path", path_str_col(files["path"]))
        files.createOrReplaceTempView("files")
        return spark.sql(gen(SPARK))
    raise SystemExit(f"unknown action {args.action!r}")


def _emit(df, fmt: str, out=None) -> None:
    from storage_crawler_spark.reports.render import to_csv_lines, to_json_doc

    out = out or sys.stdout
    if fmt == "json":
        print(to_json_doc(df), file=out)
    else:
        for line in to_csv_lines(df):
            print(line, file=out)


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from storage_crawler_spark.session import build_session

    if args.command == "list":
        from storage_crawler_spark.plans.registry import QUERIES

        for name, spec in QUERIES.items():
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t{oracle}\t{spec.doc}")
        return 0

    from pyspark.sql import SparkSession

    # getOrCreate may hand us a caller-owned session (tests, notebooks);
    # only stop what this invocation actually created.
    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session(app_name=f"cli-{args.command}")
    try:
        if args.command == "crawl":
            from storage_crawler_spark.config import CrawlConfig
            from storage_crawler_spark.crawl import crawl
            from storage_crawler_spark.sources import write_crawl

            overrides = {
                "dirs": args.dir,
                "tag": args.tag,
                "owners": args.owners,
                "extension_length": args.extension_length,
            }
            if args.exclude is not None:
                overrides["exclude"] = args.exclude
            cfg = CrawlConfig.from_env(**overrides)
            result = crawl(spark, cfg)
            tag_dir = write_crawl(result, args.lake, tag=args.tag)
            print(f"crawled {result.summary['files']} entries "
                  f"({result.summary['total_tb']:.6f} TB) -> {tag_dir}")
            return 0

        if args.command == "report":
            _emit(_report_df(spark, args), args.format)
            return 0

        if args.command == "query":
            from storage_crawler_spark.plans.registry import QUERIES

            if args.name not in QUERIES:
                raise SystemExit(f"unknown query {args.name!r} (see `list`)")
            df = QUERIES[args.name].builder(spark, args.sf_dir)
            _emit(df.limit(args.limit), args.format)
            return 0
    finally:
        if not preexisting:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
