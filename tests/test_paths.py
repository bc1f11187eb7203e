"""Targeted coverage of the chunk-aware extraction paths
(crif.py:311-426): crafted documents where retrieval's best chunk is a
table (chunk-aware DIRECT) or the account text chunk (chunk-aware
FLAG), checked Spark-vs-oracle."""

import math

import pytest
from conftest import FORMS

from crego_document_extractor_spark import oracle
from crego_document_extractor_spark.parse import DOCUMENTS_SCHEMA
from crego_document_extractor_spark import pipeline

FIELDS = ("value_num", "value_bool", "value_str", "value_type",
          "source", "confidence", "status", "similarity_score")


def _doc(doc_id, spans):
    return {"doc_id": doc_id,
            "spans": [dict(s, media_ref=s.get("media_ref", ""), offset=i)
                      for i, s in enumerate(spans)]}


DOC_TABLES_ONLY = _doc("crif-900001", [
    {"kind": "table", "text": ("Requested Service | Score\n"
                               "CIBIL credit bureau score range | \n"
                               "CB SCORE | 651"), "media_ref": "page:1"},
    {"kind": "table", "text": ("Number of Accounts | Active Accounts | "
                               "Total Current Balance | Total Amount Overdue | "
                               "Total Writeoff Amt | max loans written off debt amount\n"
                               "7 | 3 | 1000 | 50 | 0 | "), "media_ref": "page:2"},
])

DOC_FLAG_CHUNK = _doc("crif-900002", [
    {"kind": "heading", "text": "Account Information 1"},
    {"kind": "text", "text": ("Account Number: 77\n"
                              "Account Type: Personal Loan suit filed status "
                              "exists indicates whether any\n"
                              "Status: Active\n"
                              "Account Remarks: Suit Filed")},
])


def _df(spark, docs):
    return spark.createDataFrame(
        [(d["doc_id"], [(x["kind"], x["text"], x["media_ref"], x["offset"])
                        for x in d["spans"]]) for d in docs],
        schema=DOCUMENTS_SCHEMA)


def _run(spark, docs):
    df = _df(spark, docs)
    # the RELATIONAL form: these path tests target the independent SQL
    # implementations (the fused plan shares the oracle's python
    # semantics by construction and is covered by the parametrized
    # conftest fixture)
    return {(r["doc_id"], r["param_id"]): r.asDict()
            for r in FORMS["relational"](df).collect()}


def _expected(docs):
    out = {}
    for d in docs:
        for r in oracle.extract_document(d)["results"]:
            out[(r["doc_id"], r["param_id"])] = r
    return out


def _assert_rows_equal(got, exp):
    assert set(got) == set(exp)
    for k, e in exp.items():
        g = got[k]
        for f in FIELDS:
            ev, gv = e[f], g[f]
            ok = (math.isclose(ev, gv, abs_tol=1e-12)
                  if isinstance(ev, float) and isinstance(gv, float) else ev == gv)
            assert ok, (k, f, ev, gv)


def test_chunk_aware_paths_match_oracle(spark):
    docs = [DOC_TABLES_ONLY, DOC_FLAG_CHUNK]
    exp = _expected(docs)
    _assert_rows_equal(_run(spark, docs), exp)

    # the distinctive paths actually fired (guard against silently
    # regressing into report-level fallbacks)
    score = exp[("crif-900001", "bureau_credit_score")]
    assert score["source"] == "Verification Table (from Table 1)"
    assert math.isclose(score["confidence"], 0.5 * 0.9, abs_tol=1e-12)  # chunk_aware × boost(0.745)
    assert 0.70 <= score["similarity_score"] < 0.85  # the 0.9 tier
    suit = exp[("crif-900002", "bureau_suit_filed")]
    assert suit["source"] == "Account Remarks (1/1 accounts in chunk)"
    assert math.isclose(suit["confidence"], 0.5 * 0.9, abs_tol=1e-12)  # chunk_aware × boost(0.701)
    assert 0.70 <= suit["similarity_score"] < 0.85


@pytest.mark.parametrize("form", sorted(FORMS))
def test_duplicate_doc_ids_stay_independent(spark, tmp_path, form):
    """Two input rows sharing a doc_id are two documents (the reference
    processes one request = one document): extraction must preserve the
    row count and per-row values — no cross-row merging on doc_id
    (regression: the relational account aggregation once keyed on
    doc_id and collapsed colliding rows)."""
    from crego_document_extractor_spark import corpus

    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    corpus.write_corpus(p1, 10, seed=7, big_doc_every=0)
    corpus.write_corpus(p2, 10, seed=9, big_doc_every=0)  # same doc_ids
    d1 = pipeline.load_documents(spark, p1)
    d2 = pipeline.load_documents(spark, p2)

    def rows(df):
        return sorted(tuple(repr(v) for v in r)
                      for r in FORMS[form](df).collect())

    combined = rows(d1.unionByName(d2))
    separate = sorted(rows(d1) + rows(d2))
    assert combined == separate


def test_fused_extract_equals_relational(spark, tmp_path):
    """pipeline.extract_from_raw (the shipped fused plan) must be
    row-for-row identical to the independent relational engine on a
    corpus with mega-documents."""
    from crego_document_extractor_spark import corpus

    path = str(tmp_path / "fuse.parquet")
    corpus.write_corpus(path, 120, seed=13, big_doc_every=17)
    docs = spark.read.parquet(path)
    relational = sorted(map(tuple, FORMS["relational"](docs).collect()))
    fused = sorted(map(tuple, pipeline.extract_from_raw(docs).collect()))
    assert fused == relational


def _assert_run_ships_fused_plan(spark, raw_docs):
    # as wide as ensure_parallelism's target, so run() adds no
    # repartition of its own
    width = spark.sparkContext.defaultParallelism * 2
    rdd = spark.sparkContext.parallelize(
        [(d["doc_id"], d["spans"]) for d in raw_docs[:40]], width)
    docs = spark.createDataFrame(rdd, DOCUMENTS_SCHEMA)
    _, results = pipeline.run(docs)
    results.collect()
    plan = results._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert plan.count("MapInPandas") == 1, plan


def test_run_plan_is_one_python_stage_without_exchange(spark, raw_docs):
    """pipeline.run's results execute as ONE MapInPandas stage with no
    Exchange: the shipped plan is scan → blank → fused Python stage →
    codegen projection."""
    _assert_run_ships_fused_plan(spark, raw_docs)


def test_run_plan_ignores_engine_env(spark, raw_docs, monkeypatch):
    """No environment variable moves production onto the relational
    engine: with the retired SPARK_GRAFT_ENGINE=sql set, pipeline.run
    still ships the fused plan."""
    monkeypatch.setenv("SPARK_GRAFT_ENGINE", "sql")
    _assert_run_ships_fused_plan(spark, raw_docs)


def test_run_plan_ignores_rag_env(spark, raw_docs, monkeypatch):
    """The RAG fallback runs only where a caller calls it: with
    SPARK_GRAFT_ENABLE_RAG=1 set, pipeline.run still ships the fused
    plan (no fallback groupBy, join or second MapInPandas)."""
    monkeypatch.setenv("SPARK_GRAFT_ENABLE_RAG", "1")
    _assert_run_ships_fused_plan(spark, raw_docs)


def test_clean_spans_plans_have_no_python_stage(spark, raw_docs):
    """Clean-span consumers stay JVM-only: nothing reads the full
    parse's text, tables or chunks, so Catalyst prunes its build UDF
    and neither plan has a Python node."""
    docs = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in raw_docs[:40]], DOCUMENTS_SCHEMA)
    for spans in (pipeline.clean_spans(pipeline.parse_documents(docs)),
                  pipeline.run(docs)[0]):
        spans.collect()
        plan = spans._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, plan


@pytest.mark.parametrize("form", sorted(FORMS))
def test_null_spans_parse_as_no_spans(spark, form):
    """A document whose spans are NULL is a document with no spans: its
    clean spans are [] and its result rows are the oracle's for
    ``spans: []``, in both forms — never a failed job."""
    ids = ["crif-null-01", "gstr-null-01", "html-null-01"]
    docs = spark.createDataFrame([(d, None) for d in ids], DOCUMENTS_SCHEMA)
    spans = pipeline.clean_spans(pipeline.parse_documents(docs)).collect()
    assert {r["doc_id"]: r["clean_spans"] for r in spans} == {
        d: [] for d in ids}
    got = {(r["doc_id"], r["param_id"]): r.asDict()
           for r in FORMS[form](docs).collect()}
    _assert_rows_equal(got, _expected([{"doc_id": d, "spans": []}
                                       for d in ids]))


_BOILERPLATE_ONLY = [
    {"kind": "nav", "text": "[home](/) [about](/a)"},
    {"kind": "footer", "text": "contact | legal"},
    {"kind": "ad", "text": "Buy stuff now!"},
    # link-dense text: 3 links in 3 words
    {"kind": "text", "text": "[one](/1) [two](/2) [three](/3)"},
]

BAD_INPUT_DOCS = [
    _doc("crif-empty-01", []),
    _doc("gstr-empty-01", []),
    _doc("crif-boiler-01", _BOILERPLATE_ONLY),
    _doc("gstr-boiler-01", _BOILERPLATE_ONLY),
    # an unknown prefix: parsed like any document, extracted by neither
    _doc("misc-000001", DOC_FLAG_CHUNK["spans"]),
    # a bare kind is its own prefix: extracted like crif-/gstr- ids
    _doc("crif", DOC_FLAG_CHUNK["spans"]),
    _doc("gstr", DOC_FLAG_CHUNK["spans"]),
    # a NULL doc_id: kind 'other', so parsed but not extracted
    _doc(None, DOC_FLAG_CHUNK["spans"]),
]


@pytest.mark.parametrize("form", sorted(FORMS))
def test_bad_input_spans_match_oracle(spark, form):
    """Empty spans, all-boilerplate spans (stoplisted kinds and
    link-dense text), an unknown doc_id prefix, bare kind doc_ids and a
    NULL doc_id: the clean spans and the result rows equal the
    oracle's, the bare kinds are extracted, and the unknown prefix and
    the NULL doc_id have no result rows."""
    docs = _df(spark, BAD_INPUT_DOCS)
    spans = pipeline.clean_spans(pipeline.parse_documents(docs)).collect()
    assert {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
            for r in spans} == {
        d["doc_id"]: oracle.extract_document(d)["clean_spans"]
        for d in BAD_INPUT_DOCS}
    got = {(r["doc_id"], r["param_id"]): r.asDict()
           for r in FORMS[form](docs).collect()}
    _assert_rows_equal(got, _expected(BAD_INPUT_DOCS))
    assert not any(d in ("misc-000001", None) for d, _ in got)
    assert {d for d, _ in got} >= {"crif", "gstr"}


def test_rag_fallback_plan_has_no_arrow_udf(spark, raw_docs):
    """The RAG fallback retrieves with the fused stage's per-document
    function inside its one answer MapInPandas: its executed plan has
    no scalar pandas_udf (ArrowEvalPython) node."""
    from crego_document_extractor_spark.ops.answer import with_rag_fallback

    docs = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in raw_docs[:40]], DOCUMENTS_SCHEMA)
    out = with_rag_fallback(pipeline.extract_from_raw(docs),
                            pipeline.parse_documents(docs))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_50k_span_doc_in_one_arrow_batch(spark):
    """A heavy-tailed crif document of 50,000 spans, sharing one
    256-row Arrow batch with 255 ordinary documents, goes through the
    fused plan whole: its clean spans and all 15 parameters equal the
    oracle's, and so do its batch neighbours'."""
    import random

    from crego_document_extractor_spark import corpus

    spans = []
    seed = 0
    while len(spans) < 50_000:  # ~47 mega-reports back to back
        spans += corpus._gen_crif(random.Random(seed), big=True)
        seed += 1
    big = {"doc_id": "crif-950000",
           "spans": [dict(s, offset=i) for i, s in enumerate(spans[:50_000])]}
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert batch == 256
    docs = list(corpus.gen_documents(batch - 1, seed=5, big_doc_every=0))
    docs.insert(batch // 2, big)

    df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]]) for d in docs],
        DOCUMENTS_SCHEMA).coalesce(1)
    assert df.rdd.getNumPartitions() == 1  # one task, one Arrow batch

    exp = {d["doc_id"]: oracle.extract_document(d) for d in docs}
    got_spans = {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
                 for r in pipeline.clean_spans(
                     pipeline.parse_documents(df)).collect()}
    assert got_spans == {k: e["clean_spans"] for k, e in exp.items()}
    got = {(r["doc_id"], r["param_id"]): r.asDict()
           for r in pipeline.extract_from_raw(df).collect()}
    _assert_rows_equal(got, {(r["doc_id"], r["param_id"]): r
                             for e in exp.values() for r in e["results"]})
    assert sum(k[0] == big["doc_id"] for k in got) == 15
