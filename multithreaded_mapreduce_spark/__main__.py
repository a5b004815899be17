"""Command-line entry point — the reference's end-user surface on Spark.

The reference binary asks for a text file and prints ``word: count``
lines in ascending byte order (reference ``1.cpp:248-264`` +
``1.cpp:322-327``). ``count-file`` reproduces exactly that;
``count-manual`` is the reference's OTHER entry point (choice 1 —
stdin tokens up to the literal ``END`` sentinel, ``1.cpp:239-247``);
``run`` executes any registered query; ``list`` shows the catalog.

Usage::

    python -m multithreaded_mapreduce_spark count-file input.txt
    python -m multithreaded_mapreduce_spark count-manual  # stdin until END
    python -m multithreaded_mapreduce_spark run q1_pricing_summary [sf_dir]
    python -m multithreaded_mapreduce_spark verify q1_pricing_summary [sf_dir]
    python -m multithreaded_mapreduce_spark explain q1_pricing_summary [sf_dir]
    python -m multithreaded_mapreduce_spark list
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="multithreaded_mapreduce_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_count = sub.add_parser("count-file", help="word-count a text file (reference UX)")
    p_count.add_argument("path")
    p_count.add_argument(
        "--splittable",
        action="store_true",
        help="scan through the byte-range-partitioned custom data source "
        "('wstokens') instead of spark.read.text — parallelizes a single "
        "big file",
    )

    sub.add_parser(
        "count-manual",
        help="word-count whitespace tokens from stdin up to the literal "
        "END sentinel (reference manual-entry mode)",
    )

    p_run = sub.add_parser("run", help="run a registered query and show its result")
    p_run.add_argument("name")
    p_run.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    p_run.add_argument("--rows", type=int, default=20, help="rows to display")

    p_explain = sub.add_parser(
        "explain",
        help="print a registered query's physical plan, shuffle count and "
        "measured plan decisions without executing it",
    )
    p_explain.add_argument("name")
    p_explain.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    p_explain.add_argument(
        "--mode",
        default="formatted",
        choices=("simple", "extended", "formatted", "cost", "codegen"),
    )

    p_verify = sub.add_parser(
        "verify",
        help="run a registered query AND its DuckDB oracle side-by-side "
        "and report whether row count, schema, and values match "
        "(the correctness gate, on demand)",
    )
    p_verify.add_argument("name")
    p_verify.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)

    sub.add_parser("list", help="list registered queries")

    args = parser.parse_args(argv)

    from .plans.registry import all_queries

    queries = all_queries()

    if args.cmd == "list":
        for name, q in sorted(queries.items()):
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name}  [{kind}]  {', '.join(q.tags)}")
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    # stop only a session this invocation created: when embedded (tests,
    # notebooks) getOrCreate returns the caller's session, which is not
    # ours to tear down
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("cli")
    try:
        if args.cmd == "count-file":
            from pyspark.sql import functions as F

            from .functions.text import clean_word
            from .operators.wordcount import word_count
            from .sinks.writers import format_console

            if args.splittable:
                from .sources.token_datasource import register_token_source

                register_token_source(spark)
                toks = spark.read.format("wstokens").option("path", args.path).load()
                counts = (
                    toks.select(clean_word("token").alias("word"))
                    .filter(F.length("word") > 0)
                    .groupBy("word")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy("word")
                )
            else:
                counts = word_count(spark.read.text(args.path))
            for line in format_console(counts):
                print(line)
        elif args.cmd == "count-manual":
            from .operators.wordcount import word_count
            from .sinks.writers import format_console
            from .sources.text import tokens_from_list

            toks = sys.stdin.read().split()
            lines_df = tokens_from_list(spark, toks).withColumnRenamed(
                "token", "value"
            )
            for line in format_console(word_count(lines_df)):
                print(line)
        elif args.cmd == "explain":
            if args.name not in queries:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            df = queries[args.name].builder(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    args.mode
                )
            )
            print(plan)
            # formatted mode prints each operator once as "(N) Op"; other
            # modes print tree nodes like "+- Exchange hashpartitioning(...)"
            import re as _re

            n_bcast = len(_re.findall(r"^\(\d+\) BroadcastExchange\b", plan, _re.M))
            n_exchanges = len(_re.findall(r"^\(\d+\) Exchange\b", plan, _re.M))
            if n_exchanges == 0 and n_bcast == 0:  # non-formatted modes
                n_bcast = len(_re.findall(r"[+:]- BroadcastExchange\b", plan))
                n_exchanges = len(_re.findall(r"[+:]- Exchange\b", plan))
            print(f"-- shuffles (hash/range exchanges): {n_exchanges}")
            print(f"-- broadcast exchanges: {n_bcast}")
            import json

            from .plans.decisions import record

            print(f"-- decisions: {json.dumps(record())}")
        elif args.cmd == "verify":
            if args.name not in queries:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            q = queries[args.name]
            if q.oracle is None:
                df = q.builder(spark, args.sf_dir)
                print(
                    f"{args.name}: rows-only query ({df.count()} rows, "
                    "no SQL-expressible oracle — see its pytest consistency checks)"
                )
            else:
                from .plans.verification import compare_query

                try:
                    compare_query(spark, args.sf_dir, q.builder, q.oracle)
                except AssertionError as ex:
                    print(f"{args.name}: MISMATCH — {ex}", file=sys.stderr)
                    return 1
                print(f"{args.name}: MATCH (rows, schema, values) vs DuckDB at {args.sf_dir}")
        else:
            if args.name not in queries:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            queries[args.name].builder(spark, args.sf_dir).show(args.rows, truncate=False)
    finally:
        if not preexisting:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
