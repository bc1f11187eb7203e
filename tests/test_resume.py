"""Kill/rerun idempotency via the lineage manifest anti-join
(north_rule: per-partition checkpointed lineage + metrics; the Spark
form of the reference's parse cache, cache.py:36-125)."""

import pytest

from crego_document_extractor_spark import lineage, pipeline


def _collect(df):
    return sorted(tuple(r) for r in
                  df.select("doc_id", "param_id", "value_num", "value_bool",
                            "value_str", "source", "confidence", "status")
                  .collect())


def _assert_resume_converges(spark, docs, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")
    n_buckets = 16

    # uninterrupted run
    m1 = lineage.run_with_lineage(docs, full_dir, n_buckets)
    assert m1["attempt"] == 1
    full = _collect(lineage.read_results(spark, full_dir))
    assert full

    # simulate a run killed after finishing only buckets 0..5
    m2 = lineage.run_with_lineage(docs, part_dir, n_buckets,
                                  buckets_subset=list(range(6)))
    assert m2["buckets_processed"] <= 6
    partial = _collect(lineage.read_results(spark, part_dir))
    assert len(partial) < len(full)

    # resume: only pending buckets are processed, output converges
    m3 = lineage.run_with_lineage(docs, part_dir, n_buckets)
    assert m3["attempt"] == 2
    assert m3["buckets_previously_done"] == m2["buckets_processed"]
    assert m3["buckets_processed"] + m3["buckets_previously_done"] == n_buckets
    resumed = _collect(lineage.read_results(spark, part_dir))
    assert resumed == full

    # a third run is a no-op (everything already done)
    m4 = lineage.run_with_lineage(docs, part_dir, n_buckets)
    assert m4["buckets_processed"] == 0
    assert _collect(lineage.read_results(spark, part_dir)) == full


def test_interrupted_run_resumes_idempotently(spark, docs_path, tmp_path):
    _assert_resume_converges(
        spark, pipeline.load_documents(spark, docs_path), tmp_path)


def test_lineage_leaves_session_overwrite_mode(spark, docs_path, tmp_path):
    """The dynamic partition overwrite is a per-write option: a session
    left on 'static' stays 'static', and resume still converges (a
    static overwrite would drop the buckets done before the kill)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        _assert_resume_converges(
            spark, pipeline.load_documents(spark, docs_path), tmp_path)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("nothing_pending", ["empty_input", "empty_subset"])
def test_run_with_nothing_pending(spark, docs_path, tmp_path, nothing_pending):
    """A run with nothing pending on a fresh output dir processes no
    bucket and reads back as an empty frame with the columns and types
    of a populated read, and a later full run into the same dir
    converges to a fresh run."""
    docs = pipeline.load_documents(spark, docs_path)
    out = str(tmp_path / "out")
    if nothing_pending == "empty_input":
        m = lineage.run_with_lineage(docs.limit(0), out, 16)
    else:
        m = lineage.run_with_lineage(docs, out, 16, buckets_subset=[])
    assert m["buckets_processed"] == 0

    fresh = str(tmp_path / "fresh")
    lineage.run_with_lineage(docs, fresh, 16)
    empty = lineage.read_results(spark, out)
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(f"{fresh}/{lineage.RESULTS}").schema
    assert lineage.run_with_lineage(docs, out, 16)["buckets_processed"] == 16
    assert (_collect(lineage.read_results(spark, out))
            == _collect(lineage.read_results(spark, fresh)))


def test_kill_before_manifest_append_redoes_buckets(spark, docs_path,
                                                   tmp_path, monkeypatch):
    """A run killed after its results write but before its manifest
    append leaves its buckets pending: the next run redoes them (over
    the results already written) and converges to a fresh run."""
    from pyspark.sql import DataFrameWriter

    docs = pipeline.load_documents(spark, docs_path)
    fresh, out = str(tmp_path / "fresh"), str(tmp_path / "out")
    n_buckets = 16
    lineage.run_with_lineage(docs, fresh, n_buckets)
    m1 = lineage.run_with_lineage(docs, out, n_buckets,
                                  buckets_subset=list(range(6)))

    parquet = DataFrameWriter.parquet

    def killed_at_manifest(self, path, *args, **kwargs):
        if path.endswith(lineage.MANIFEST):
            monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
            raise RuntimeError("killed before the manifest append")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", killed_at_manifest)
    with pytest.raises(RuntimeError, match="killed"):
        lineage.run_with_lineage(docs, out, n_buckets)
    assert DataFrameWriter.parquet is parquet

    m3 = lineage.run_with_lineage(docs, out, n_buckets)
    assert m3["attempt"] == 2
    assert m3["buckets_previously_done"] == m1["buckets_processed"]
    assert m3["buckets_processed"] + m1["buckets_processed"] == n_buckets
    assert (_collect(lineage.read_results(spark, out))
            == _collect(lineage.read_results(spark, fresh)))


def test_manifest_metrics(spark, docs_path, tmp_path):
    """Per bucket, ``n_docs`` counts the bucketed input and ``n_rows``
    the result rows written; attempts number from 1, also after a run
    with nothing pending."""
    docs = pipeline.load_documents(spark, docs_path)
    out = str(tmp_path / "m")
    n_buckets = 8
    # a run with nothing pending appends a manifest without rows, so
    # the full run after it is attempt 1 too
    m0 = lineage.run_with_lineage(docs, out, n_buckets, buckets_subset=[])
    assert (m0["attempt"], m0["buckets_processed"]) == (1, 0)
    assert lineage.run_with_lineage(docs, out, n_buckets)["attempt"] == 1
    rows = spark.read.parquet(f"{out}/_manifest").collect()
    assert {(r["status"], r["attempt"], r["run_id"]) for r in rows} == {
        ("done", 1, "run-1")}
    assert all(r["wall_ms"] >= 0 for r in rows)
    n_docs = dict(lineage.with_bucket(docs, n_buckets)
                  .groupBy("bucket").count().collect())
    assert {r["bucket"]: r["n_docs"] for r in rows} == n_docs
    n_rows = dict(lineage.read_results(spark, out)
                  .groupBy("bucket").count().collect())
    assert {r["bucket"]: r["n_rows"] for r in rows} == {
        b: n_rows.get(b, 0) for b in n_docs}
    # everything is done: the next run processes nothing, as attempt 2
    m2 = lineage.run_with_lineage(docs, out, n_buckets)
    assert (m2["attempt"], m2["buckets_processed"]) == (2, 0)
