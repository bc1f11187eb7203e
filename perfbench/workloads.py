"""The benchmark workloads.  Each generates its inputs, loads them,
warms up (the first warm-up iteration doubles as the once-per-invocation
oracle check), runs timed iterations that each check their output, and
measures its per-layer metrics in a traced run.

Both workloads are closed loop: one client, one Spark job chain at a
time, on local[4], over the same seeded corpus.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import Observation, functions as F
from pyspark.sql.types import DoubleType, FloatType

from . import inputs
from .probes import (CallTracer, dir_bytes_files, noop, timed_median,
                     timed_once)

#: docs in the oracle sample: the first ORACLE_DOCS docs of the corpus
#: (mega docs at indexes 95 (html) and 193 (crif))
ORACLE_DOCS = 200
#: docs replayed in-process through the Python stage's batch function
REPLAY_DOCS = 600
#: stream-input files; the file source drains 4 per micro-batch
STREAM_FILES = 16
PARTITIONS = 16

SEMANTICS_FNS = ("embed", "retrieve_best", "parse_account", "payment_status",
                 "clean_spans", "build_tables", "build_chunks")
_FIELDS = ("value_num", "value_bool", "value_str", "value_type", "source",
           "confidence", "status", "similarity_score")

#: the eight ``__spark_entry__`` queries bench.py times
OPS_QUERIES = ("q_j1_broadcast_dim_join", "q_t1_topk_per_group",
               "q_a2_threshold_counts", "q_j2_cosine_topk",
               "q_p3_segmentation", "q_dedup_exact", "q_minhash_bands",
               "q_text_quality")


class Failure(Exception):
    """An iteration whose output check failed."""


def _account_block(text: str) -> str:
    """One account block's identity: the text from its first
    'Account Number:' on, so a chunk parsed whole and the same block
    split out of it count as one block."""
    at = text.find("Account Number:")
    return (text[at:] if at >= 0 else text).strip()


def new_tracer() -> CallTracer:
    return CallTracer({"parse_account": _account_block})


def semantics_layers(tracer: CallTracer) -> dict[str, float]:
    out = {}
    for fn in SEMANTICS_FNS:
        out[f"semantics.{fn}.calls"] = tracer.calls[fn]
        out[f"semantics.{fn}.self_s"] = tracer.self_s[fn]
    out["semantics.account_parse_ratio"] = tracer.ratio("parse_account")
    out["semantics.embed_reuse_ratio"] = tracer.ratio("embed")
    return out


def oracle_mismatches(docs: list[dict], spans_rows, result_rows) -> list[str]:
    """Diff clean spans and every parameter row against
    ``oracle.extract_document`` (the ``scripts/smoke.py`` comparison)."""
    from crego_document_extractor_spark import oracle
    bad: list[str] = []
    got_spans = {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
                 for r in spans_rows}
    got_rows = {(r["doc_id"], r["param_id"]): r.asDict() for r in result_rows}
    exp_rows = {}
    for d in docs:
        exp = oracle.extract_document(d)
        if got_spans.get(d["doc_id"]) != exp["clean_spans"]:
            bad.append(f"spans differ for {d['doc_id']}")
        for r in exp["results"]:
            exp_rows[(r["doc_id"], r["param_id"])] = r
    if set(exp_rows) != set(got_rows):
        bad.append(f"result keys differ: {len(set(exp_rows) ^ set(got_rows))}")
    for k in sorted(set(exp_rows) & set(got_rows)):
        e, g = exp_rows[k], got_rows[k]
        for f in _FIELDS:
            ev, gv = e[f], g[f]
            same = (abs(ev - gv) < 1e-12 if isinstance(ev, float)
                    and isinstance(gv, float) else ev == gv)
            if not same:
                bad.append(f"{k} {f}: expected {ev!r}, got {gv!r}")
                break
    return bad


class DocWorkload:
    """A workload over the seeded corpus; subclasses name the entry
    point."""

    name = ""
    #: untimed iterations after ``warmup``, which runs the entry point
    #: once; the first timed flagship iteration after only one was still
    #: 15% slower than the rest
    extra_warmups = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        #: output checks the traced probes failed; they make the run
        #: incorrect but do not stop it
        self.layer_failures: list[str] = []

    # -- set-up -----------------------------------------------------------
    def generate(self, gen_dir: str) -> None:
        os.makedirs(gen_dir, exist_ok=True)
        self.corpus = os.path.join(gen_dir, "corpus.parquet")
        inputs.write_corpus(self.corpus, self.ctx.n_docs, self.ctx.seed)

    def load(self, spark) -> None:
        from crego_document_extractor_spark import pipeline
        self.docs = pipeline.ensure_parallelism(
            spark.read.parquet(self.corpus),
            min_partitions=PARTITIONS).persist()
        n = self.docs.count()
        if n != self.ctx.n_docs:
            raise RuntimeError(f"corpus holds {n} docs, not {self.ctx.n_docs}")
        self.expected = inputs.expected_rows(self.ctx.n_docs) + self.ctx.offset

    def warmup(self, spark):
        """Run the entry point once over the whole corpus.  Returns a
        function giving the oracle mismatches of the first docs (empty
        when correct), so the comparison stays out of the set-up time."""
        raise NotImplementedError

    def _verify(self, results):
        """Collect the oracle sample's rows from ``results`` and its
        clean spans from the JVM parse."""
        from crego_document_extractor_spark import pipeline
        from crego_document_extractor_spark.parse import parse_documents
        docs = inputs.oracle_docs(min(ORACLE_DOCS, self.ctx.n_docs),
                                  self.ctx.seed)
        in_sample = F.col("doc_id").isin([d["doc_id"] for d in docs])
        rows = results.where(in_sample).collect()
        spans = pipeline.clean_spans(parse_documents(
            self.docs.where(in_sample))).collect()
        return lambda: oracle_mismatches(docs, spans, rows)

    # -- timed ------------------------------------------------------------
    def iteration(self, spark, tag: str) -> float:
        """Run once under job group ``tag``; return the wall seconds of
        the entry-point call alone.  Raises Failure when the output
        check fails."""
        raise NotImplementedError

    def _check(self, n_rows: int) -> None:
        if n_rows != self.expected:
            raise Failure(f"{n_rows} result rows, expected {self.expected}")

    # -- traced -----------------------------------------------------------
    def layers(self, spark, walls: list[float]) -> dict[str, float]:
        """Per-layer metrics, after the traced iterations (``walls``)."""
        return {"pipeline.scan_noop_s": timed_median(lambda: noop(self.docs)),
                "parse.docs_in": self.docs.count()}

    @staticmethod
    def _result_layers(results) -> dict[str, float]:
        row = results.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("status") == "not_found", 1).otherwise(0))
            .alias("nf")).first()
        return {"extract.rows": row["n"],
                "extract.not_found_frac": (row["nf"] or 0) / max(1, row["n"])}


class FlagshipExtract(DocWorkload):
    """``pipeline.extract_from_raw(docs)``: the fused Python stage, no
    shuffle, no write.  Rows are counted by an observed metric on a
    noop sink, so the whole plan runs and no exchange is added."""

    name = "flagship_extract"

    def warmup(self, spark):
        from crego_document_extractor_spark import pipeline
        return self._verify(pipeline.extract_from_raw(self.docs))

    def iteration(self, spark, tag: str) -> float:
        from crego_document_extractor_spark import pipeline
        obs = Observation(tag)
        t0 = time.perf_counter()
        noop(pipeline.extract_from_raw(self.docs)
             .observe(obs, F.count(F.lit(1)).alias("n")))
        wall = time.perf_counter() - t0
        self._check(obs.get["n"])
        return wall

    def _blanked(self):
        # the JVM-side blanking extract_from_raw applies before the
        # Python stage: only crif/gstr spans cross the Arrow boundary
        from crego_document_extractor_spark.parse import DOC_KIND_SQL
        empty = ("CAST(array() AS ARRAY<STRUCT<kind: STRING, text: STRING, "
                 "media_ref: STRING, offset: INT>>)")
        return self.docs.withColumn("spans", F.expr(
            f"CASE WHEN {DOC_KIND_SQL} IN ('crif', 'gstr') "
            f"THEN spans ELSE {empty} END"))

    def layers(self, spark, walls: list[float]) -> dict[str, float]:
        from crego_document_extractor_spark import pipeline
        from crego_document_extractor_spark.parse import parse_documents
        blanked = self._blanked()
        out = super().layers(spark, walls)
        out["parse.docs_blanked"] = blanked.where("size(spans) = 0").count()
        out["parse.blank_noop_s"] = timed_median(lambda: noop(blanked))
        out["parse.arrow_hop_s"] = timed_median(lambda: noop(
            blanked.mapInPandas(lambda it: it, schema=blanked.schema)))
        out["parse.fused_stage_s"] = timed_median(lambda: noop(
            parse_documents(blanked, fuse_retrieval=True)))
        out["extract.fused_noop_s"] = timed_median(lambda: noop(
            pipeline.extract_from_raw(self.docs)))
        out.update(self._result_layers(pipeline.extract_from_raw(self.docs)))
        out.update(self._replay())
        out.update(self._stream_layers(spark))
        out.update(self._ops_layers(spark))
        return out

    def _replay(self) -> dict[str, float]:
        """Run the fused stage's batch function in this process over the
        first REPLAY_DOCS blanked docs, with wrappers on ``semantics``."""
        import pyarrow.parquet as pq
        from crego_document_extractor_spark import parse, semantics
        pdf = pq.read_table(self.corpus).slice(0, REPLAY_DOCS).to_pandas()
        pdf["spans"] = [s if d.split("-", 1)[0] in ("crif", "gstr") else s[:0]
                        for d, s in zip(pdf["doc_id"], pdf["spans"])]
        batches = [pdf.iloc[i:i + 256] for i in range(0, len(pdf), 256)]
        tracer = new_tracer()
        with tracer.patched(semantics, SEMANTICS_FNS):
            for _ in parse._parse_retr_batches(iter(batches)):
                pass
        return semantics_layers(tracer)

    def _stream_layers(self, spark) -> dict[str, float]:
        """``streaming.stream_extract`` drains the same corpus, split into
        files, into fresh output and checkpoint dirs; the second drain is
        timed."""
        from crego_document_extractor_spark import streaming
        src = os.path.join(self.ctx.work, "stream_in")
        inputs.split_corpus(self.corpus, src, STREAM_FILES)
        for k in range(2):
            out = os.path.join(self.ctx.work, f"stream_out{k}")
            t0 = time.perf_counter()
            q = streaming.stream_extract(
                spark, src, out, os.path.join(self.ctx.work, f"stream_ck{k}"),
                available_now=True)
            q.awaitTermination()
            wall = time.perf_counter() - t0
        results = os.path.join(out, "results")
        try:
            self._check(spark.read.parquet(results).count())
        except Failure as e:
            self.layer_failures.append(f"streaming: {e}")
        dur = [p["durationMs"] for p in q.recentProgress
               if p["numInputRows"] > 0]
        return {
            "streaming.wall_s": wall,
            "streaming.batches": len(dur),
            "streaming.batch_s": statistics.median(
                d.get("triggerExecution", 0) for d in dur) / 1000,
            "streaming.add_batch_s": statistics.median(
                d.get("addBatch", 0) for d in dur) / 1000,
            "streaming.write_amp": (dir_bytes_files(results)[0]
                                    / os.path.getsize(self.corpus)),
        }

    def _ops_layers(self, spark) -> dict[str, float]:
        """Noop-sink time of each operator query over the tables bench.py
        reads (``$SPARK_GRAFT_SF_DIR``, default the sf0.1 tables).  Every
        call observes the output's row count and order-independent hash,
        which must equal those of the query's first, untimed call."""
        import __spark_entry__ as entry
        from bench import SF_DIR

        from .run import log
        if not os.path.isdir(SF_DIR):
            log(f"no operator tables at {SF_DIR}; ops layers read 0")
            return {}
        qs = entry.queries()
        out = {}
        for q in OPS_QUERIES:
            seen = []

            def call(q=q, seen=seen) -> None:
                df = qs[q](spark, SF_DIR)
                obs = Observation(q)
                noop(df.observe(obs, *output_fingerprint(df)))
                seen.append((obs.get["n"], obs.get["h"]))

            out[f"ops.{q}.noop_s"] = timed_median(call, runs=2)
            if len(set(seen)) != 1:
                self.layer_failures.append(
                    f"ops.{q}: (rows, hash) {seen[0]} then {seen[1:]}")
        return out


def output_fingerprint(df):
    """Row count and an order-independent hash of ``df``'s rows, with
    floating-point columns rounded to 6 decimals."""
    cols = [F.round(F.col(f"`{f.name}`"), 6)
            if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    # shifted so that summing up to 2**24 rows cannot overflow a long
    h = F.shiftright(F.xxhash64(*cols), 24)
    return (F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(h), F.lit(0)).alias("h"))


class JobLineage(DocWorkload):
    """``lineage.run_with_lineage(docs, fresh_dir, n_buckets=64)``: what
    ``jobs/extract_job.py`` and ``pipeline.run`` execute (JVM parse,
    ``best_chunks`` UDF, account shuffle), plus the partitioned parquet
    write and the manifest jobs."""

    name = "job_lineage"
    n_buckets = 64
    # the first run (22-25 s, most of it plan and code compilation
    # whatever the input size) is warm-up enough: a second made the run
    # 10 s longer and the timed iterations no steadier
    extra_warmups = 0

    def _run(self, out: str) -> float:
        from crego_document_extractor_spark import lineage
        t0 = time.perf_counter()
        lineage.run_with_lineage(self.docs, out, n_buckets=self.n_buckets)
        return time.perf_counter() - t0

    def warmup(self, spark):
        from crego_document_extractor_spark import lineage
        out = os.path.join(self.ctx.work, "lineage_warm")
        self._run(out)
        try:
            return self._verify(lineage.read_results(spark, out))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def iteration(self, spark, tag: str) -> float:
        from crego_document_extractor_spark import lineage
        # the last iteration's output stays for the traced layers
        if getattr(self, "last", None):
            shutil.rmtree(self.last[1], ignore_errors=True)
        out = os.path.join(self.ctx.work, tag)
        self.last = (tag, out)
        wall = self._run(out)
        self._check(lineage.read_results(spark, out).count())
        return wall

    def layers(self, spark, walls: list[float]) -> dict[str, float]:
        from crego_document_extractor_spark import lineage, pipeline
        from crego_document_extractor_spark.extract.crif import extract_all
        from crego_document_extractor_spark.parse import parse_documents
        out = super().layers(spark, walls)
        tag, dest = self.last
        size, files = dir_bytes_files(os.path.join(dest, "results"))
        out.update({
            "lineage.run_s": statistics.median(walls) if walls else 0.0,
            "lineage.spark_jobs": len(spark.sparkContext.statusTracker()
                                      .getJobIdsForGroup(tag)),
            "lineage.output_bytes": size,
            "lineage.output_files": files,
            "lineage.write_amp": size / os.path.getsize(self.corpus),
        })
        out.update(self._result_layers(lineage.read_results(spark, dest)))
        out["parse.jvm_parse_s"] = timed_median(lambda: noop(
            parse_documents(self.docs)))
        # the timed iterations already warmed the unfused plan; the
        # relational engine is informational, timed once
        out["extract.unfused_noop_s"] = timed_once(lambda: noop(
            pipeline.extract_parameters(parse_documents(self.docs))))
        out["extract.relational_noop_s"] = timed_once(lambda: noop(
            extract_all(parse_documents(self.docs), engine="sql")))
        out.update(self._replay(spark))
        return out

    def _replay(self, spark) -> dict[str, float]:
        """Replay the ``best_chunks`` UDF body over the JVM parse's
        candidate pools for the first REPLAY_DOCS docs."""
        from crego_document_extractor_spark import semantics
        from crego_document_extractor_spark.extract import retrieval
        from crego_document_extractor_spark.parse import parse_documents
        head = spark.read.parquet(self.corpus).limit(REPLAY_DOCS)
        pools = parse_documents(head).select(F.expr(
            f"CASE WHEN doc_kind = 'crif' THEN {retrieval.CANDIDATES_EXPR} "
            f"ELSE array() END").alias("c")).collect()
        tracer = new_tracer()
        with tracer.patched(semantics, SEMANTICS_FNS):
            for r in pools:
                retrieval.retrieve_rows([c.asDict() for c in r["c"]])
        return semantics_layers(tracer)


WORKLOADS = {w.name: w for w in (FlagshipExtract, JobLineage)}
