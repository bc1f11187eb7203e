"""PARSE stage — the full parse and the flagship vectorized Arrow stage.

``documents(doc_id, spans)`` → per-document parsed structure:

* ``clean_spans``  boilerplate-stripped ordered spans (the correctness
  invariant: span-sequence equality vs the oracle)
* ``text``         rendered markdown-ish full text (parser.py:87)
* ``tables``       ordered table structs, id=enumerate (parser.py:90-106)
* ``chunks``       header-segmented chunks (parser.py:107-124)

Two physical forms share the :mod:`..semantics` definitions.  This
module adds no derivation of its own (span cleaning, tables, chunks,
report values, accounts, retrieval candidates and chunk-aware values
all live there), only their Spark plumbing:

* ``parse_documents(docs)``: JVM clean spans (``_clean_spans_sql``)
  plus one scalar ``pandas_udf`` (``_build``) that builds text, tables
  and chunks from them; a consumer that reads only the clean spans
  never runs the UDF (Catalyst prunes it);
* ``parse_documents(docs, fuse_retrieval=True)``: the flagship's ONE
  ``mapInPandas`` stage — ``_fused_row`` maps each document to one row
  of ``FUSED_SCHEMA`` (parse, retrieval, per-parameter scalars), no
  per-row Python UDFs, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from . import semantics as S
from .extract.crif import _SUMMARY_FIELDS
from .extract.retrieval import retrieve_rows
from .extract.sqlexpr import WS
from .specs import PARAMETER_SPECS

SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

TABLE_TYPE = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("columns", T.ArrayType(T.StringType())),
    T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
    T.StructField("raw", T.StringType()),
])

CHUNK_TYPE = T.StructType([
    T.StructField("chunk_idx", T.IntegerType()),
    T.StructField("header", T.StringType()),
    T.StructField("text", T.StringType()),
])

PARSED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("doc_kind", T.StringType()),
    T.StructField("n_spans", T.IntegerType()),
    T.StructField("clean_spans", T.ArrayType(SPAN_TYPE)),
    T.StructField("text", T.StringType()),
    T.StructField("tables", T.ArrayType(TABLE_TYPE)),
    T.StructField("chunks", T.ArrayType(CHUNK_TYPE)),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
])

#: SQL twin of ``semantics.doc_kind`` — used by the parse cache to
#: recompute the kind from the *requesting* doc_id at serve time (the
#: cache key is content-only, so a byte-identical span payload may be
#: shared across kinds; the routing kind must come from the caller, not
#: the cache)
DOC_KIND_SQL = (
    "CASE WHEN element_at(split(doc_id, '-'), 1) IN ("
    + ", ".join(f"'{k}'" for k in S.DOC_KINDS) + ") "
    "THEN element_at(split(doc_id, '-'), 1) ELSE 'other' END"
)


def _span_dicts(spans) -> list[dict]:
    return [{"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "offset": int(s["offset"])}
            for s in spans]


def _fused_fields() -> list[T.StructField]:
    """The fused stage's output format, declared once and in column
    order: the Spark schema of ``parse_documents(docs,
    fuse_retrieval=True)`` and the column order of every batch the
    stage yields.  Per doc: the report values and account aggregates
    (types mirror the relational engine's, extract/retrieval_sql.py:
    account counts int, money cells double), every per-parameter scalar
    extract_all_udf's result builders consume (bscore_i, cv_i/bt_id_i,
    nc_i/mc_i) and the four GSTR primitives."""
    s, i32, f64, b = (T.StringType(), T.IntegerType(), T.DoubleType(),
                      T.BooleanType())
    cols = [("doc_id", s), ("doc_kind", s),
            ("rep_score", i32), ("rep_inquiries", i32)]
    cols += [(f"rep_sum_{f}", i32 if f.endswith("accounts") else f64)
             for f in _SUMMARY_FIELDS]
    cols += [("n_accounts", i32), ("rep_dpd30", i32), ("rep_dpd60", i32),
             ("rep_dpd90", i32), ("rep_live_plbl", b)]
    cols += [(f"rep_m_{pid}", i32) for pid in S.FLAG_PREDICATES]
    for i, spec in enumerate(PARAMETER_SPECS):
        if spec["category"] == "policy":
            continue
        cols.append((f"bscore_{i}", f64))
        if spec["category"] == "direct":
            cols += [(f"cv_{i}", f64), (f"bt_id_{i}", i32)]
        elif spec["param_id"] in S.FLAG_PREDICATES:
            cols += [(f"nc_{i}", i32), (f"mc_{i}", i32)]
    cols += [("g_month", s), ("g_found", b), ("g_page", i32),
             ("g_sales", f64)]
    return [T.StructField(name, typ) for name, typ in cols]


FUSED_SCHEMA = T.StructType(_fused_fields())


def _fused_row(doc_id: str, spans) -> dict:
    """One document → its fused output row (``FUSED_SCHEMA``): kind,
    clean spans, tables, chunks, report values, account aggregates,
    retrieval, the per-parameter scalars and, for gstr docs, the GSTR
    primitives.  Every value comes from the semantics functions the
    oracle uses (retrieve_rows / semantics extractors), so
    fused-vs-oracle parity is by shared definition; the relational
    engine is the independent physical form, cross-checked by the A9b
    agreement query and tests/test_paths.py."""
    kind = S.doc_kind(doc_id)
    cs = S.clean_spans(_span_dicts(spans))
    tables = S.build_tables(cs)
    chunks = S.build_chunks(cs)
    # report-level table-signature values (crif_parser.py:28-127)
    summary = S.account_summary(tables)
    row = {"doc_id": doc_id, "doc_kind": kind,
           "rep_score": S.bureau_score(tables),
           "rep_inquiries": S.credit_inquiries(tables),
           **{f"rep_sum_{f}": summary[f] for f in _SUMMARY_FIELDS}}
    # report-level account aggregates (crif_models.py:47-88)
    accts = S.report_accounts(chunks)
    row.update(n_accounts=len(accts),
               rep_dpd30=sum(a["worst_dpd"] >= 30 for a in accts),
               rep_dpd60=sum(a["worst_dpd"] >= 60 for a in accts),
               rep_dpd90=sum(a["worst_dpd"] >= 90 for a in accts),
               rep_live_plbl=any(S.is_live_pl_bl(a) for a in accts))
    for pid in S.FLAG_PREDICATES:
        row[f"rep_m_{pid}"] = S.count_flagged(pid, accts)
    # per-parameter scalars (crif.py:311-426 chunk-aware paths) from
    # the winning candidate
    retr = retrieve_rows(S.candidate_pool(tables, chunks)
                         if kind == "crif" else [])
    tab_by_id = {t["id"]: t for t in tables}
    chunk_by_idx = {c["chunk_idx"]: c for c in chunks}
    for i, spec in enumerate(PARAMETER_SPECS):
        pid, cat = spec["param_id"], spec["category"]
        if cat == "policy":
            continue
        r = retr[i]
        row[f"bscore_{i}"] = r["score"]
        won = r["score"] is not None
        if cat == "direct":
            t = (tab_by_id.get(r["ref_idx"])
                 if won and r["ctype"] == "table" else None)
            cv = None if t is None else S.direct_table_value(pid, t)
            row[f"cv_{i}"] = None if cv is None else float(cv)
            row[f"bt_id_{i}"] = None if t is None else t["id"]
        elif pid in S.FLAG_PREDICATES:
            c = (chunk_by_idx.get(r["ref_idx"])
                 if won and r["ctype"] == "text" else None)
            chunk_accts = [] if c is None else S.chunk_accounts(c["text"])
            row[f"nc_{i}"] = len(chunk_accts)
            row[f"mc_{i}"] = S.count_flagged(pid, chunk_accts)
    # GSTR primitives (gstr.with_gstr_columns), read only for gstr docs
    # (crif.extract_all); gstr_month is the rendered text's only reader
    gstr = kind == "gstr"
    sales = (S.gstr_sales(tables) if gstr else None) or {}
    row.update(g_month=S.gstr_month(S.render_text(cs)) if gstr else None,
               g_found=bool(sales), g_page=sales.get("page"),
               g_sales=sales.get("value"))
    return row


def _parse_retr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The fused stage: one ``_fused_row`` per document, one DataFrame
    per Arrow batch.  The payload is ~50 primitive columns — the nested
    clean spans, tables and chunks and the text never cross the Arrow
    boundary back, and the JVM side is a pure codegen projection over
    them (extract_all_udf)."""
    names = FUSED_SCHEMA.fieldNames()
    for pdf in batches:
        yield pd.DataFrame(
            [_fused_row(doc_id, spans)
             for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])],
            columns=names)


# ---------------------------------------------------------------------------
# Full parse: JVM clean spans + one build UDF
# ---------------------------------------------------------------------------
#
# The clean spans are higher-order SQL over the spans array, so a
# clean_spans-only consumer (pipeline.run's spans, extract_job
# --spans-output) has no Python boundary.  Text, tables and chunks come
# from the semantics functions the oracle and the fused stage run,
# through one scalar pandas_udf over the clean spans: an expression, so
# Catalyst drops it when nothing reads those three columns (an opaque
# mapInPandas would compute and ship every column for every consumer,
# guide §4.1/§4.2).  The clean-spans expression mirrors
# semantics.clean_spans line by line; tests/test_jvm_parse and the
# scripts/smoke.py span diff pin the full parse against the oracle.

def _clean_spans_sql() -> str:
    """semantics.clean_spans: stable sort by offset, drop boilerplate
    (kind stoplist + link-density, semantics.is_boilerplate), re-densify
    offsets 0..n-1.  Stability on equal offsets is reproduced by
    tagging each span with its original index before the comparator
    sort (Python `sorted` is stable)."""
    links = "((length(s.text) - length(replace(s.text, ']('))) div 2)"
    words = (f"size(filter(split(s.text, '{WS}+'), "
             f"w -> w != ''))")
    boiler = (f"(s.kind IN ('nav', 'footer', 'ad') OR "
              f"(s.kind = 'text' AND {links} >= 2 AND "
              f"{words} < {links} * 6))")
    ordered = ("transform(array_sort("
               "transform(spans, (s, i) -> struct(s AS s, i AS i)), "
               "(a, b) -> CASE WHEN a.s.offset < b.s.offset THEN -1 "
               "WHEN a.s.offset > b.s.offset THEN 1 "
               "WHEN a.i < b.i THEN -1 WHEN a.i > b.i THEN 1 "
               "ELSE 0 END), x -> x.s)")
    return (f"transform(filter({ordered}, s -> NOT {boiler}), "
            f"(s, i) -> named_struct("
            f"'kind', s.kind, 'text', s.text, "
            f"'media_ref', s.media_ref, 'offset', cast(i AS int)))")


#: the build UDF's output: the three built columns of ``PARSED_SCHEMA``
BUILD_TYPE = T.StructType([PARSED_SCHEMA[c]
                           for c in ("text", "tables", "chunks")])


@F.pandas_udf(BUILD_TYPE)
def _build(clean_spans: pd.Series) -> pd.DataFrame:
    """Clean spans → (text, tables, chunks), per document, with the
    semantics functions; the clean spans are used as given (the JVM
    ones), nothing is re-cleaned here."""
    return pd.DataFrame(
        [(S.render_text(cs), S.build_tables(cs), S.build_chunks(cs))
         for cs in clean_spans],
        columns=BUILD_TYPE.fieldNames())


def parse_documents(docs: DataFrame, fuse_retrieval: bool = False) -> DataFrame:
    """documents(doc_id, spans) → parsed-document DataFrame, narrow (no
    shuffle).  The default is the full ``PARSED_SCHEMA``: kind, span
    count and clean spans JVM-side, then text, tables and chunks from
    the one ``_build`` UDF, evaluated once per document and only when
    one of them is read.

    ``fuse_retrieval=True`` emits the FULLY PRE-FLATTENED extraction
    input from one Arrow-batched Python stage (``FUSED_SCHEMA``;
    heavy-tailed docs bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch): per-parameter
    best-chunk scores and chunk-aware values (bscore/cv/bt_id/nc/mc),
    report + account aggregates, and the GSTR primitives — ~50
    primitive columns, no nested arrays, no text.  Use when the
    consumer is the udf-engine extraction (extract_all_udf builds
    pure-codegen result structs over these columns); plain parses
    (clean_spans-only consumers, the sql engine) keep the default full
    parsed schema.

    NULL ``spans`` parse as no spans (``_no_null_spans``).
    """
    docs = _no_null_spans(docs)
    if fuse_retrieval:
        return docs.mapInPandas(_parse_retr_batches, schema=FUSED_SCHEMA)
    return (docs.select(
                "doc_id",
                F.expr(DOC_KIND_SQL).alias("doc_kind"),
                F.expr("cast(size(spans) AS int)").alias("n_spans"),
                F.expr(_clean_spans_sql()).alias("clean_spans"))
            .withColumn("_built", _build("clean_spans"))
            .select("doc_id", "doc_kind", "n_spans", "clean_spans",
                    "_built.*"))


def _no_null_spans(docs: DataFrame) -> DataFrame:
    """NULL ``spans`` → no spans: every parse form starts here, so a
    NULL is a document without spans, never a failed job."""
    return docs.withColumn("spans", F.coalesce(
        "spans", F.array().cast(docs.schema["spans"].dataType)))


def load_documents(spark, path: str) -> DataFrame:
    """Scan the documents table (parquet; Iceberg at production scale —
    SURVEY.md §2 S1)."""
    return spark.read.parquet(path)
