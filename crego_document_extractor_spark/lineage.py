"""Per-partition checkpointed lineage + idempotent resume (north_rule).

The corpus is hash-bucketed on ``doc_id``; each bucket is a resumable
unit of work.  A manifest table records completed buckets with metrics
``(bucket, status, n_docs, n_rows, wall_ms, attempt, run_id,
completed_at)``.  Resuming is an anti-join of pending buckets against
the manifest (the Spark form of the reference's SHA256 parse cache,
cache.py:36-125: only misses recompute).

A run reads the manifest once (done buckets, next attempt), writes
the pending buckets' results, then appends their manifest rows from
one aggregation over the pending docs; ``n_rows`` needs no read-back,
as the result projection fixes the rows per document by its kind
(``extract.crif.result_rows``).

Results come from the production extraction path
(``pipeline.extract_from_raw``), repartitioned by bucket (one file
per bucket per run) and written ``partitionBy(bucket)`` with a
per-write dynamic partition overwrite, so a re-run of an interrupted
bucket atomically replaces any partial files — the plain-parquet
stand-in for an Iceberg MERGE/commit at production scale.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .extract.crif import result_rows
from .parse import DOC_KIND_SQL, DOCUMENTS_SCHEMA
from .pipeline import extract_from_raw

MANIFEST = "_manifest"
RESULTS = "results"


def with_bucket(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))


def _manifest_state(spark: SparkSession, out_dir: str) -> tuple[set[int], int]:
    """One read of the manifest: the buckets marked done and the next
    attempt number (1 when there is no manifest or it has no rows, as
    after a run with nothing pending)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{MANIFEST}")
    # asked of the FileSystem: a read of a missing path logs a stack trace
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return set(), 1
    rows = (spark.read.schema("bucket int, status string, attempt int")
            .parquet(str(path)).collect())
    return ({r["bucket"] for r in rows if r["status"] == "done"},
            max((r["attempt"] for r in rows), default=0) + 1)


def _bucketed_results(docs: DataFrame, n_buckets: int) -> DataFrame:
    return with_bucket(extract_from_raw(docs), n_buckets)


def run_with_lineage(docs: DataFrame, out_dir: str,
                     n_buckets: int = 64,
                     buckets_subset: list[int] | None = None) -> dict:
    """Run the extraction pipeline over all buckets not yet marked done
    (optionally restricted to ``buckets_subset`` — used by tests to
    simulate an interrupted run).  Returns run metrics."""
    spark = docs.sparkSession
    done, attempt = _manifest_state(spark, out_dir)
    run_id = f"run-{attempt}"

    bucketed = with_bucket(docs, n_buckets)
    pending = bucketed.where(~F.col("bucket").isin(list(done)) if done else F.lit(True))
    if buckets_subset is not None:
        pending = pending.where(F.col("bucket").isin(buckets_subset))

    t0 = time.perf_counter()
    # one writer task per bucket: without the exchange every input
    # partition writes a file into every bucket (partitions × buckets
    # small files); only the slim result rows cross it, no span data
    out = _bucketed_results(pending.select("doc_id", "spans"),
                            n_buckets).repartition("bucket")
    # per-write option, not a session-conf flip: a session-wide
    # setting would leak into the caller's other writes and race with
    # concurrent writers (same fix as ops/pack.py)
    (out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(f"{out_dir}/{RESULTS}"))
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # per-bucket metrics, appended only after the results are written:
    # a kill in between leaves the buckets pending for the next run
    manifest = (pending.groupBy("bucket")
                .agg(F.count("*").alias("n_docs"),
                     F.sum(F.expr(result_rows(DOC_KIND_SQL))).alias("n_rows"))
                .select("bucket",
                        F.lit("done").alias("status"),
                        "n_docs", "n_rows",
                        F.lit(wall_ms).alias("wall_ms"),
                        F.lit(attempt).alias("attempt"),
                        F.lit(run_id).alias("run_id"),
                        F.current_timestamp().alias("completed_at")))
    # the bucket count is observed on the manifest write itself: a
    # count() afterwards would re-run the aggregation
    written = Observation("manifest")
    (manifest.observe(written, F.count(F.lit(1)).alias("n"))
        .write.mode("append").parquet(f"{out_dir}/{MANIFEST}"))
    return {"run_id": run_id, "attempt": attempt,
            "buckets_processed": written.get["n"], "wall_ms": wall_ms,
            "buckets_previously_done": len(done)}


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every result row written into ``out_dir``, read with the schema
    of the plan that writes them, so nothing is inferred and a
    directory whose runs wrote no row reads as an empty frame."""
    written = _bucketed_results(spark.createDataFrame([], DOCUMENTS_SCHEMA), 1)
    return spark.read.schema(written.schema).parquet(f"{out_dir}/{RESULTS}")
