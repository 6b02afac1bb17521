"""spark-submit entry point for the index build (north rule: the
pipeline runs via ``spark-submit --py-files`` on a multi-executor
cluster).

    spark-submit --py-files coa_codesearch_mcp_spark.zip \
        tools/submit_build_index.py \
        --input /path/to/webpages_parquet --output /path/to/index \
        [--field content] [--buckets 512] [--resume]

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally it falls back to local[*]. The build is resumable:
re-running with the same --output skips completed chunk waves via the
manifest.

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
    ap.add_argument("--input", required=True, help="parquet dir with url/warc_ts/html/text/lang (or doc_id/text)")
    ap.add_argument("--output", required=True, help="index root")
    ap.add_argument("--field", default="content", choices=["content", "content_patterns", "content_symbols"])
    ap.add_argument("--buckets", type=int, default=512)
    ap.add_argument("--range-size", type=int, default=1 << 20)
    ap.add_argument("--chunk-size", type=int, default=1 << 18)
    ap.add_argument("--salt-threshold", type=int, default=1 << 20)
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument(
        "--id-partitions",
        type=int,
        default=256,
        help="bucket count for dense doc-id assignment; part of the "
        "url->doc_id mapping, so keep it constant across resumed runs",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("build_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexWriter

    docs = spark.read.parquet(args.input)
    if "doc_id" not in docs.columns:
        # dense DETERMINISTIC ids — hashing urls into a 62-bit space
        # would explode the chunk plan and fragment WAND ranges (the
        # build refuses such ids); see index/ids.py
        from coa_codesearch_mcp_spark.index.ids import assign_dense_doc_ids

        docs = assign_dense_doc_ids(docs, "url", args.id_partitions)
    if "text" not in docs.columns and "html" in docs.columns:
        from pyspark.sql.pandas.functions import pandas_udf
        import pandas as pd

        from coa_codesearch_mcp_spark.functions.text import extract_text_from_html

        @pandas_udf("string")
        def extract(html: pd.Series) -> pd.Series:
            return html.map(lambda b: extract_text_from_html(bytes(b)))

        docs = docs.withColumn("text", extract(F.col("html")))

    cfg = IndexConfig(
        field=args.field,
        n_buckets=args.buckets,
        range_size=args.range_size,
        chunk_size=args.chunk_size,
        salt_threshold=args.salt_threshold,
        with_positions=not args.no_positions,
    )
    t0 = time.perf_counter()
    manifest = IndexWriter(spark, args.output, cfg).build(docs)
    dt = time.perf_counter() - t0
    corpus = manifest.get_stats("corpus")
    print(
        json.dumps(
            {
                "built": args.output,
                "secs": round(dt, 2),
                "n_docs": corpus["n_docs"],
                "docs_per_sec": round(corpus["n_docs"] / dt, 2),
                "n_terms": corpus["n_terms"],
            }
        )
    )


if __name__ == "__main__":
    main()
