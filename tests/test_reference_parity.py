"""End-to-end parity against the reference's OWN fixture + golden
output: real GSTR-3B PDF bytes → from-scratch byte extraction →
x/y-position table reconstruction → the GSTR extraction path →
compared with /root/reference/extraction_output.json (gst_sales
951381.0, month 'January 2024' — reference gstr.py:39-137,
tests/test_accuracy.py:56-61).

The reference parses PDFs with Docling (parser.py:60-138); this engine
re-derives the same observable values from raw bytes (ingest.py): Flate
streams → BT/ET text runs → y-band lines → x-gap cell split → column
banding → the serialized table grid the signature extractors consume.
"""

import json
import os

import pytest

FIXDIR = "/root/reference/GSTR-3B_GST_Return"
GOLDEN = "/root/reference/extraction_output.json"
JAN = os.path.join(FIXDIR, "GSTR3B_06AAICK4577H1Z8_012025.pdf")

pytestmark = pytest.mark.skipif(
    not os.path.exists(JAN), reason="reference fixtures not present")


@pytest.fixture(scope="module")
def golden():
    return json.load(open(GOLDEN))["gst_sales"][0]


@pytest.fixture(scope="module")
def gstr_results(spark):
    from crego_document_extractor_spark import ingest, pipeline

    raw = spark.createDataFrame(
        [("gstr-fixture-012025", bytearray(open(JAN, "rb").read()))],
        "doc_id string, payload binary")
    docs = ingest.ingest_pdf(raw)
    _, results = pipeline.run(docs, repartition=False)
    return {r["param_id"]: r.asDict() for r in results.collect()}


def test_fixture_table_31_reconstructed(spark):
    """The 3.1 signature table must be rebuilt from raw runs: strong
    column signature (integrated & central & taxable) on a real page."""
    from crego_document_extractor_spark import ingest
    from crego_document_extractor_spark.parse import parse_documents

    raw = spark.createDataFrame(
        [("gstr-fixture-012025", bytearray(open(JAN, "rb").read()))],
        "doc_id string, payload binary")
    parsed = parse_documents(ingest.ingest_pdf(raw)).collect()[0]
    sig = [t for t in parsed["tables"]
           if any("integrated" in c.lower() for c in t["columns"])
           and any("central" in c.lower() for c in t["columns"])
           and any("taxable" in c.lower() for c in t["columns"])]
    assert sig, "3.1 table not reconstructed"
    assert sig[0]["page"] == 1


def test_fixture_month_parity(gstr_results, golden):
    assert gstr_results["gst_month"]["value_str"] == golden["month"]


def test_fixture_sales_parity(gstr_results, golden):
    row = gstr_results["gst_sales"]
    assert row["value_num"] == golden["sales"]
    assert row["source"] == golden["source"]
    assert row["confidence"] == golden["confidence"]
    assert row["status"] == golden["status"]


CRIFDIR = "/root/reference/CRIF_Bureau_Report"


@pytest.mark.skipif(not os.path.exists(CRIFDIR),
                    reason="reference fixtures not present")
def test_crif_fixture_bureau_score_ground_truth(spark):
    """Real CRIF bureau-report PDF → gap-clustered lines + in-block
    column anchors → the Verification table signature → the reference's
    ground-truth bureau score 627 (reference tests/test_accuracy.py:40,
    GROUND_TRUTH_CRIF for JEET ARORA_PARK251217CR671901414.pdf) and
    credit inquiries 0.  (The Account Summary totals are not yet
    signature-matched from this fixture — docs/EXPLAIN.md, Known limits.)"""
    import glob

    from pyspark.sql import functions as F

    from crego_document_extractor_spark import ingest
    from crego_document_extractor_spark.extract import sqlexpr as X
    from crego_document_extractor_spark.parse import parse_documents

    p = glob.glob(os.path.join(CRIFDIR, "JEET*"))[0]
    raw = spark.createDataFrame(
        [("crif-fixture-jeet", bytearray(open(p, "rb").read()))],
        "doc_id string, payload binary")
    parsed = parse_documents(ingest.ingest_pdf(raw))
    row = parsed.select(
        F.expr(X.doc_score()).alias("score"),
        F.expr(X.doc_inquiries()).alias("inq")).collect()[0]
    assert row["score"] == 627
    assert row["inq"] == 0

    # the pure-Python oracle agrees on the same reconstructed tables
    from crego_document_extractor_spark import semantics as S
    pr = parsed.collect()[0]
    tl = [{"id": t["id"], "page": t["page"], "columns": list(t["columns"]),
           "rows": [list(r) for r in t["rows"]], "raw": t["raw"]}
          for t in pr["tables"]]
    assert S.bureau_score(tl) == 627


def test_all_six_fixture_months_extract(spark):
    """Every shipped GSTR fixture yields a non-Unknown month and a
    non-null sales value through the full pipeline."""
    from crego_document_extractor_spark import ingest, pipeline

    rows = [(f"gstr-fix-{os.path.basename(p)[-11:-4]}",
             bytearray(open(os.path.join(FIXDIR, p), "rb").read()))
            for p in sorted(os.listdir(FIXDIR)) if p.endswith(".pdf")]
    raw = spark.createDataFrame(rows, "doc_id string, payload binary")
    _, results = pipeline.run(ingest.ingest_pdf(raw), repartition=False)
    got = {(r["doc_id"], r["param_id"]): r for r in results.collect()}
    docs = {d for d, _ in got}
    assert len(docs) == 6
    for d in docs:
        assert got[(d, "gst_month")]["value_str"] != "Unknown Month", d
        assert got[(d, "gst_sales")]["value_num"] is not None, d
        assert got[(d, "gst_sales")]["status"] == "extracted", d


@pytest.mark.skipif(not os.path.exists(CRIFDIR),
                    reason="reference fixtures not present")
def test_crif_fixture_full_bureau_parameters(spark):
    """FULL 15-parameter golden parity on the real JEET ARORA CRIF
    fixture: raw PDF bytes → from-scratch extraction (Flate /Length
    slicing, CTM tracking, gap-clustered lines, wrapped-header column
    slots, font-size headings) → chunk/table reconstruction → the
    whole pipeline — every parameter VALUE equals the reference's
    golden output (extraction_output.json bureau_parameters ==
    GROUND_TRUTH_CRIF of reference tests/test_accuracy.py:39-55), and
    every status matches.

    Source strings match exactly wherever they carry no account count
    (Verification Table / Account Summary Table / Inquiry Table /
    policy labels).  Count-bearing sources differ only in the account
    denominator: this engine parses all 54 detailed accounts of the
    report (the Account Summary itself says 54) where the reference's
    Docling run recovered 36 — the flag/computed VALUES agree anyway.
    Confidence is model-relative (similarity boost ladder over the
    hash-embedding scores) and is asserted non-zero for extracted
    parameters rather than equal to the reference model's values."""
    import glob

    from crego_document_extractor_spark import ingest, pipeline

    p = glob.glob(os.path.join(CRIFDIR, "JEET*"))[0]
    raw = spark.createDataFrame(
        [("crif-fixture-jeet", bytearray(open(p, "rb").read()))],
        "doc_id string, payload binary")
    _, results = pipeline.run(ingest.ingest_pdf(raw), repartition=False)
    got = {r["param_id"]: r.asDict() for r in results.collect()}
    golden = json.load(open(GOLDEN))["bureau_parameters"]
    assert set(got) >= set(golden)

    count_free = {
        "bureau_credit_score", "bureau_written_off_debt_amount",
        "bureau_max_loans", "bureau_max_active_loans",
        "bureau_credit_inquiries", "bureau_overdue_threshold",
        "bureau_loan_amount_threshold",
    }
    for pid, g in golden.items():
        r = got[pid]
        if r["value_type"] in ("int", "float"):
            val = r["value_num"]
        elif r["value_type"] == "bool":
            val = r["value_bool"]
        else:
            val = None if r["value_str"] == "null" else r["value_str"]
        if g["value"] is None:
            assert val is None, pid
        elif isinstance(g["value"], bool):
            assert val is g["value"], pid
        else:
            assert val is not None and float(val) == float(g["value"]), pid
        assert r["status"] == g["status"], pid
        if pid in count_free:
            assert r["source"] == g["source"], pid
        else:
            # same source template, our account denominator (54)
            assert "54 accounts" in r["source"], pid
        if g["status"] == "extracted":
            assert r["confidence"] > 0, pid

@pytest.mark.skipif(not os.path.exists(CRIFDIR),
                    reason="reference fixtures not present")
def test_all_six_crif_fixtures_extract(spark):
    """Every shipped CRIF bureau-report fixture runs raw bytes → full
    pipeline and yields all 15 bureau parameters with a plausible
    in-range score (golden values exist only for the JEET fixture;
    this guards the reconstruction against the other five layouts)."""
    from crego_document_extractor_spark import ingest, pipeline

    rows = [(f"crif-fix-{i}",
             bytearray(open(os.path.join(CRIFDIR, p), "rb").read()))
            for i, p in enumerate(sorted(os.listdir(CRIFDIR)))
            if p.endswith(".pdf")]
    raw = spark.createDataFrame(rows, "doc_id string, payload binary")
    _, results = pipeline.run(ingest.ingest_pdf(raw), repartition=False)
    got = {}
    for r in results.collect():
        got.setdefault(r["doc_id"], {})[r["param_id"]] = r.asDict()
    assert len(got) == 6
    for d, params in got.items():
        assert len(params) == 15, d
        score = params["bureau_credit_score"]
        if score["status"] == "extracted" and score["value_num"] is not None:
            assert 300 <= score["value_num"] <= 900, d
        # the summary-sourced counts parse as non-negative ints
        ml = params["bureau_max_loans"]
        if ml["value_num"] is not None:
            assert ml["value_num"] >= 0, d
