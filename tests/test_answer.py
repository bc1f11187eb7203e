"""Deterministic extractive RAG fallback (ops/answer.py) — the
flag-gated twin of the reference's _extract_with_llm_and_rag
(crif.py:448-538) with llm.generate replaced by best-sentence
extraction over the shared hash-embedding scorer."""

import pytest
from pyspark.sql import functions as F

from crego_document_extractor_spark import pipeline
from crego_document_extractor_spark.ops import answer as A
from crego_document_extractor_spark.parse import parse_documents


def test_extractive_answer_types():
    assert A.extractive_answer(
        "bureau_written_off_debt_amount",
        "Narrative filler. Total writeoff amount stands at 1,234.50 in all.",
    ) == "1,234.50"
    assert A.extractive_answer(
        "bureau_no_live_pl_bl",
        "Some words. No live PL or BL accounts exist.") == "false"
    assert A.extractive_answer("bureau_credit_score", "no digits") == A.NOT_FOUND
    assert A.extractive_answer("bureau_credit_score", "") == A.NOT_FOUND


def test_coerce_mirrors_reference():
    # crif.py:503-530: int via int(float()) after , / space strip;
    # coercion failure keeps the string
    assert A.coerce("1,234.0", "int") == (1234, None, None)
    assert A.coerce("12 34.5", "float") == (1234.5, None, None)
    assert A.coerce("Yes", "bool") == (None, True, None)
    assert A.coerce("maybe", "bool") == (None, False, None)
    assert A.coerce("n/a", "float") == (None, None, "n/a")


def _spans(texts):
    return [{"kind": "text", "text": t, "media_ref": "", "offset": i}
            for i, t in enumerate(texts)]


@pytest.fixture()
def miss_docs(spark):
    # a crif document whose bureau score appears ONLY in free text —
    # the programmatic path is a score-TABLE scan (sqlexpr F6/T4), so
    # it retrieves the chunk (similarity above threshold) but extracts
    # no value: exactly the reference's LLM-fallback eligibility
    return spark.createDataFrame(
        [("crif-rag-01", _spans([
            "CIBIL score information follows for the applicant.",
            "The reported CIBIL credit bureau score equals 742 for "
            "this borrower profile.",
        ]))],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")


def test_with_rag_fallback_patches_miss(spark, miss_docs):
    parsed = parse_documents(miss_docs)
    results = pipeline.extract_from_raw(miss_docs)
    base = {r["param_id"]: r for r in results.collect()}
    target = base["bureau_credit_score"]
    assert target["value_num"] is None  # programmatic miss (no table)
    assert target["status"] == "extracted"  # but a chunk WAS retrieved

    patched = A.with_rag_fallback(results, parsed)
    got = {r["param_id"]: r for r in patched.collect()}
    row = got["bureau_credit_score"]
    assert row["value_num"] == 742.0
    assert row["status"] == "extracted"
    assert row["value_type"] == "int"
    # confidence = 0.6 * boost(similarity); 0.5 sim -> 0.6 * 0.7
    assert row["confidence"] == pytest.approx(0.42)
    assert row["similarity_score"] is not None
    # rows the answerer cannot patch stay byte-identical
    for pid, r in got.items():
        if pid != "bureau_credit_score":
            assert tuple(r) == tuple(base[pid]), pid
