"""Structured-streaming wrapper (SURVEY.md §2.9).

The reference is strictly request/response batch; the streaming
surface here is the idiomatic Spark equivalent of its API endpoint:
a file-source stream of document batches where each micro-batch runs
the IDENTICAL batch pipeline via ``foreachBatch`` — checkpointing (and
therefore exactly-once file-level resume) comes from Spark's
checkpointLocation, complementing the bucket-level lineage of
:mod:`lineage` for the batch path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .parse import DOCUMENTS_SCHEMA
from .pipeline import extract_from_raw


EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def stream_windowed_event_counts(spark: SparkSession, input_dir: str,
                                 output_dir: str, checkpoint_dir: str,
                                 window: str = "1 hour",
                                 watermark: str = "2 hours"):
    """Watermarked tumbling-window aggregation over an event stream —
    the canonical stateful-streaming operator (late data dropped past
    the watermark; append mode emits only finalized windows)."""
    stream = (spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir))
    agg = (stream.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value")))
    return (agg.select(F.col("w.start").alias("w_start"),
                       F.col("w.end").alias("w_end"),
                       "event_type", "n", "total_value")
            .writeStream.outputMode("append").format("parquet")
            .option("path", f"{output_dir}/counts")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True):
    """Stream documents(doc_id, spans) parquet files → results table.

    Returns the StreamingQuery; with ``available_now`` the query drains
    all currently-available files and stops (used for tests and
    catch-up runs); without it, it runs continuously.
    """
    stream = (spark.readStream
              .schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))

    def process(batch_df, batch_id: int) -> None:
        results = extract_from_raw(batch_df)
        (results.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{output_dir}/results"))

    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DEDUP_STATE_SCHEMA = "hashes array<string>"
DEDUP_OUT_SCHEMA = "doc_id string, content_key string, bucket int"


def stream_dedup(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, buckets: int = 64,
                 max_state_per_bucket: int | None = None,
                 state: str = "exact", sketch_bits: int = 1 << 20):
    """Streaming incremental exact-dedup — the custom STATEFUL operator
    (applyInPandasWithState): only the first occurrence of each content
    hash across ALL micro-batches is emitted; the seen-set lives in
    checkpointed group state keyed by a hash bucket, so a restarted
    stream continues suppressing duplicates it saw before the restart.

    The DEFAULT (``max_state_per_bucket=None``) keeps the exact
    unbounded seen-set — existing callers get exact dedup semantics.
    Passing a bound OPTS IN to bounded state: each bucket keeps at
    most `max_state_per_bucket` hashes in insertion order and evicts
    the oldest beyond that — a dedup horizon of
    `buckets * max_state_per_bucket` most-recent distinct documents,
    with duplicates older than the horizon re-emitted (at-least-once
    outside the horizon, exact inside it).  At 10^12-document scale
    the bound is what you want (e.g. 64 × 100k ≈ 6.4M-doc horizon per
    partition group); the exact default is for known-small key
    spaces.

    ``state='bloom'`` replaces the per-bucket hash list with a FIXED
    ``sketch_bits``-bit Bloom filter (4 index functions sliced from the
    sha-256 key): per-trigger state serialization drops from
    O(distinct × 64 B) to ``sketch_bits/8`` bytes per bucket no matter
    how many documents have been seen.  The trade is one-sided: a
    false positive DROPS a unique document (p ≈ (1-e^{-4n/m})^4 —
    ~3e-10 at 1M docs per 1 Mib bucket sketch), duplicates are still
    never re-emitted.  ``max_state_per_bucket`` does not apply."""
    import pandas as pd  # noqa: F811 (worker-side import)

    def dedup_fn(key, pdfs, state):
        order = list(state.get[0]) if state.exists else []
        seen = set(order)
        out = []
        for pdf in pdfs:
            fresh = ~pdf["content_key"].isin(seen)
            out.append(pdf[fresh].drop_duplicates("content_key"))
            new = [h for h in out[-1]["content_key"] if h not in seen]
            order += new
            seen.update(new)
        if max_state_per_bucket is not None and len(order) > max_state_per_bucket:
            order = order[-max_state_per_bucket:]
        state.update((order,))
        yield pd.concat(out) if out else pd.DataFrame(
            {"doc_id": [], "content_key": [], "bucket": []})

    n_idx = 4

    def _bloom_idx(key_hex: str):
        # 4 independent indexes sliced from the sha-256 hex key —
        # deterministic across restarts, no extra hashing cost
        return [int(key_hex[i * 8:(i + 1) * 8], 16) % sketch_bits
                for i in range(n_idx)]

    def dedup_bloom_fn(key, pdfs, state):
        bits = bytearray(state.get[0]) if state.exists else bytearray(
            (sketch_bits + 7) // 8)  # round UP: bits not divisible by
        # 8 must still allocate the byte holding the last indexes
        out = []
        for pdf in pdfs:
            keep = []
            for h in pdf["content_key"]:
                idx = _bloom_idx(h)
                hit = all(bits[i >> 3] & (1 << (i & 7)) for i in idx)
                keep.append(not hit)
                if not hit:
                    for i in idx:
                        bits[i >> 3] |= 1 << (i & 7)
            out.append(pdf[pd.Series(keep, index=pdf.index)])
        state.update((bytes(bits),))
        yield pd.concat(out) if out else pd.DataFrame(
            {"doc_id": [], "content_key": [], "bucket": []})

    stream = (spark.readStream
              .schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))
    keyed = stream.select(
        "doc_id",
        F.sha2(F.to_json("spans"), 256).alias("content_key"),
        F.pmod(F.hash(F.sha2(F.to_json("spans"), 256)),
               F.lit(buckets)).alias("bucket"))
    deduped = (keyed.groupBy("bucket")
               .applyInPandasWithState(
                   dedup_bloom_fn if state == "bloom" else dedup_fn,
                   outputStructType=DEDUP_OUT_SCHEMA,
                   stateStructType=("sketch binary" if state == "bloom"
                                    else DEDUP_STATE_SCHEMA),
                   outputMode="append",
                   timeoutConf="NoTimeout"))
    return (deduped.writeStream.outputMode("append").format("parquet")
            .option("path", f"{output_dir}/unique")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_ingest_dedup(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str,
                        index_dir: str, available_now: bool = True):
    """Streaming INGEST against the persisted content-key index — the
    composition a production crawl runs: each micro-batch of raw
    documents is deduplicated with :func:`ops.dedup.incremental_exact`
    against the SAME parquet key index the batch pipeline maintains
    (one index, shared by batch backfills and the live stream),
    survivors append to the corpus sink and their keys append to the
    index.

    Differs from :func:`stream_dedup` (checkpointed in-operator
    state): here the seen-set is an EXTERNAL, queryable table that
    batch jobs co-own, survives checkpoint deletion, and can be
    rebuilt offline.  Failure semantics: Spark replays an unfinished
    micro-batch; the CORPUS write runs FIRST and the index append
    second, so a crash between the two re-emits the same survivors
    on replay (the index still lacks their keys → identical anti-join
    → duplicate corpus rows, cleanable downstream by content_key) —
    at-least-once delivery.  The reverse order would be silent DATA
    LOSS: keys flushed without docs make the replayed anti-join drop
    the documents forever.  Index appends themselves are harmless to
    replay (the index is consumed as a SET by an anti-join)."""
    from pyspark.sql.utils import AnalysisException
    from .ops.dedup import incremental_exact

    def process(batch_df, batch_id: int) -> None:
        try:
            history = spark.read.schema(
                "content_key string").parquet(index_dir)
        except AnalysisException:
            history = spark.createDataFrame([], "content_key string")
        # localCheckpoint (eager) MATERIALIZES the survivors and cuts
        # the lineage before the index append: the anti-join reads the
        # index lazily, so a later re-execution would anti-join the
        # survivors against their own freshly-appended keys
        # (self-reference → empty) — persist() alone is not reliable
        # across foreachBatch write actions
        surv = incremental_exact(batch_df, history).localCheckpoint()
        # content_key stays ON the corpus rows so crash-replay
        # duplicates are directly cleanable (dedup by content_key)
        (surv.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{output_dir}/docs"))
        (surv.select("content_key")
         .write.mode("append").parquet(index_dir))

    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(input_dir))
    writer = (stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
