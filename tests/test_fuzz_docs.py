"""Whole-document property fuzz: arbitrary span structures through the
FULL pipeline (parse → clean spans → parameters) must match the oracle
exactly.  This is the strongest parity check — hypothesis explores
structures the corpus generator never emits (odd headers, ragged
tables, colon-less field lines, unicode padding)."""

import math

from conftest import FORMS
from hypothesis import given, settings, strategies as st

from crego_document_extractor_spark import oracle
from crego_document_extractor_spark.parse import DOCUMENTS_SCHEMA
from crego_document_extractor_spark import pipeline

FIELDS = ("value_num", "value_bool", "value_str", "value_type",
          "source", "confidence", "status", "similarity_score")

# latin-ish printable + a unicode space; newlines/pipes enter via the
# structured strategies below, not free text
_txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x17F,
                           blacklist_characters="|"),
    max_size=18)
_word = st.sampled_from(
    ["Account", "Type:", "Personal Loan", "Status: Active", "score",
     "CB SCORE", "651", "₹1,234", "Suit Filed", "Account Remarks:",
     "Jan: 090", "Overdue Amt: 5", "3.1", "outward", "supplies",
     "Month : May", "Year : 2024-25", "(a)", "Number of Accounts"])
_line = st.one_of(_txt, _word,
                  st.tuples(_word, _txt).map(lambda t: " ".join(t)))
_mltext = st.lists(_line, min_size=1, max_size=5).map("\n".join)

_cellv = st.one_of(_txt, _word)
_table_text = st.builds(
    lambda cols, rows: "\n".join(
        [" | ".join(cols)] + [" | ".join(r) for r in rows]),
    st.lists(st.sampled_from(
        ["Requested Service", "Score", "Number of Accounts",
         "Active Accounts", "Total Writeoff Amt", "Enquiry Purpose",
         "Total Taxable Value", "Integrated Tax", "Central Tax",
         "Description", "misc"]), min_size=1, max_size=5),
    st.lists(st.lists(_cellv, min_size=1, max_size=5), max_size=4))

_span = st.one_of(
    st.builds(lambda t: ("heading", t, ""), _line),
    st.builds(lambda t: ("text", t, ""), _mltext),
    st.builds(lambda t: ("table", t, "page:3"), _table_text),
    st.builds(lambda r: ("media", "", f"img:{r}"), st.integers(0, 9)),
    st.builds(lambda t: ("nav", t, ""), _line),
    st.builds(lambda t: ("ad", t, ""), _line),
)

_doc = st.tuples(
    st.sampled_from(["crif", "gstr", "html"]),
    st.lists(_span, min_size=0, max_size=10))


@settings(max_examples=10, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=6))
def test_fuzzed_documents_match_oracle(spark, docs_spec):
    docs = []
    for i, (kind, spans) in enumerate(docs_spec):
        docs.append({
            "doc_id": f"{kind}-{i:06d}",
            "spans": [{"kind": k, "text": t, "media_ref": m, "offset": j}
                      for j, (k, t, m) in enumerate(spans)],
        })
    df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]]) for d in docs],
        schema=DOCUMENTS_SCHEMA)
    # fuzz the RELATIONAL form — it is the independent SQL
    # implementation; the fused plan is covered by the parametrized
    # conftest fixture and the A9b agreement query
    spans_df = pipeline.clean_spans(pipeline.parse_documents(df))
    results_df = FORMS["relational"](df)
    exp = {d["doc_id"]: oracle.extract_document(d) for d in docs}

    got_spans = {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
                 for r in spans_df.collect()}
    for doc_id, e in exp.items():
        assert got_spans[doc_id] == e["clean_spans"], doc_id

    got_rows = {(r["doc_id"], r["param_id"]): r.asDict()
                for r in results_df.collect()}
    exp_rows = {(r["doc_id"], r["param_id"]): r
                for e in exp.values() for r in e["results"]}
    assert set(got_rows) == set(exp_rows)
    for k, e in exp_rows.items():
        g = got_rows[k]
        for f in FIELDS:
            ev, gv = e[f], g[f]
            ok = (math.isclose(ev, gv, abs_tol=1e-12)
                  if isinstance(ev, float) and isinstance(gv, float)
                  else ev == gv)
            assert ok, (k, f, ev, gv)


def test_pdf_parser_survives_garbage_bytes():
    """The from-scratch PDF byte extractor must never raise on
    arbitrary input — corrupt documents yield empty/partial runs, not
    task failures (at 10^12 docs, malformed files are a certainty)."""
    import random

    from crego_document_extractor_spark import ingest

    rng = random.Random(99)
    samples = [
        b"",
        b"%PDF-1.4",
        b"not a pdf at all",
        bytes(rng.randrange(256) for _ in range(4096)),
        b"%PDF-1.4\n1 0 obj\n<< /Length 9999 >>\nstream\nxx\nendstream\nendobj",
        b"1 0 obj << /Type /Page /Contents 2 0 R >> endobj",  # dangling ref
        b"%PDF-1.4\n1 0 obj\n<< /Type /ObjStm /N 5 /First 3 "
        b"/Filter /FlateDecode /Length 4 >>\nstream\nABCD\nendstream\nendobj",
    ]
    # and mutated variants of a valid mini PDF
    valid = None
    import tests.test_ingest as TI
    valid = TI._mini_pdf(["BT 1 0 0 1 10 700 Tm (ok) Tj ET"])
    for _ in range(30):
        b = bytearray(valid)
        for _ in range(rng.randint(1, 12)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        samples.append(bytes(b))
    for s in samples:
        runs = ingest.pdf_text_runs(s)  # must not raise
        assert isinstance(runs, list)
