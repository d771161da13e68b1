"""spark-submit entry point: serve BM25 top-k queries from a built index.

    spark-submit --py-files quickb_spark.zip jobs/run_queries.py \\
      --index-dir <index root> \\
      --queries <parquet/csv with (query_id, query_text)> \\
      [--k 10] [--output <parquet dir>] [--strategy auto|exact] \\
      [--ranges auto|<int>] [--phrase [--slop N]] [--match-all]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--output", default=None)
    ap.add_argument("--strategy", default="auto", choices=["auto", "exact"])
    ap.add_argument("--ranges", default="auto", help="docID-range fan-out per query")
    ap.add_argument(
        "--phrase",
        action="store_true",
        help="phrase retrieval: each query's tokens must occur in order "
        "with successive gaps <= slop + 1 (BM25 scores unchanged)",
    )
    ap.add_argument(
        "--slop",
        type=int,
        default=0,
        help="max extra tokens between successive phrase terms (0 = exact "
        "adjacency); only with --phrase",
    )
    ap.add_argument(
        "--match-all",
        action="store_true",
        help="conjunctive (AND-mode) retrieval: only docs containing every "
        "query term (BM25 scores unchanged)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from quickb_spark.query.searcher import Searcher
    from quickb_spark.session import tune_builder

    spark = tune_builder(
        SparkSession.builder.appName("quickb-run-queries")
    ).getOrCreate()
    if args.queries.endswith(".csv"):
        queries = spark.read.option("header", "true").csv(args.queries)
    else:
        queries = spark.read.parquet(args.queries)

    ranges = args.ranges if args.ranges == "auto" else int(args.ranges)
    result = Searcher(spark, args.index_dir).topk(
        queries, k=args.k, strategy=args.strategy, ranges=ranges,
        phrase=args.phrase, match_all=args.match_all, slop=args.slop,
    )
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
    else:
        result.orderBy("query_id", "rank").show(100, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
