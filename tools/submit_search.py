"""spark-submit entry point for BM25 top-k search over a built index
(north rule: the whole pipeline — build AND query — runs via
``spark-submit --py-files`` on a multi-executor cluster).

    spark-submit --py-files coa_codesearch_mcp_spark.zip \
        tools/submit_search.py --index /path/to/index \
        --query "spark index" [--mode or|and|phrase] [--k 10]

Prints one JSON line: the top-k (doc_id, score) plus query wall time.

Python workers run Spark's stock daemon, not the package's
(``session.python_daemon_module``): the daemon starts before the
``--py-files`` zip reaches a worker, so it could not import the package.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True, help="whitespace-separated terms")
    ap.add_argument("--mode", default="or", choices=["or", "and", "phrase"])
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("search_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from coa_codesearch_mcp_spark.index.store import IndexReader
    from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher

    searcher = StoreSearcher(IndexReader(spark, args.index))
    terms = args.query.split()
    t0 = time.perf_counter()
    if args.mode == "phrase":
        df = searcher.search_phrase(terms, k=args.k)
    elif args.mode == "and":
        df = searcher.search_and(terms, k=args.k)
    else:
        df = searcher.search_or(terms, k=args.k)
    hits = [(r["doc_id"], r["score"]) for r in df.collect()]
    dt = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "index": args.index,
                "query": terms,
                "mode": args.mode,
                "k": args.k,
                "secs": round(dt, 3),
                "hits": hits,
            }
        )
    )


if __name__ == "__main__":
    main()
