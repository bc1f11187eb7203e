"""spark-submit entry point for the extraction pipeline.

Ship the package with --py-files and run:

    bash scripts/package.sh
    spark-submit --master <cluster> \
        --py-files dist/crego_document_extractor_spark.zip \
        jobs/extract_job.py --input <documents parquet/Iceberg path> \
        --output <results dir> [--buckets 4096] [--spans-output <dir>]

Results come from the fused production plan
(``pipeline.extract_from_raw``, through ``lineage.run_with_lineage``);
--spans-output comes from the full parse of the same input, which for
clean spans alone is JVM-only (its build UDF is pruned).
The job is resumable: re-submitting with the same --output continues
from the lineage manifest (only buckets not yet marked done run).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--spans-output", default=None,
                    help="optionally also write the clean-spans table")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("crego-extract").getOrCreate()
    # engine defaults that matter on a real cluster (AQE + Arrow)
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    }.items():
        spark.conf.set(k, v)

    from crego_document_extractor_spark import lineage, pipeline

    docs = spark.read.parquet(args.input)
    metrics = lineage.run_with_lineage(docs, args.output, args.buckets)
    if args.spans_output:
        (pipeline.clean_spans(pipeline.parse_documents(docs))
         .write.mode("overwrite").parquet(args.spans_output))
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
