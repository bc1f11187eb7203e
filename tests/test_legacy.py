"""Legacy direct-parsing mode (crif_legacy.py) — Spark vs oracle."""

import math

from crego_document_extractor_spark import oracle, pipeline

FIELDS = ("value_num", "value_bool", "value_str", "value_type",
          "source", "confidence", "status", "similarity_score")


def test_legacy_mode_matches_oracle(spark, docs_path, raw_docs):
    docs_df = pipeline.load_documents(spark, docs_path)
    got = {(r["doc_id"], r["param_id"]): r.asDict()
           for r in pipeline.extract_from_raw(docs_df, mode="legacy").collect()}

    # gstr documents keep their embedding-mode rows; other kinds emit none
    exp = {}
    for d in raw_docs:
        if d["doc_id"].startswith("crif-"):
            rows = oracle.extract_crif_legacy(oracle.parse_document(d))
        elif d["doc_id"].startswith("gstr-"):
            rows = oracle.extract_gstr(oracle.parse_document(d))
        else:
            continue
        for r in rows:
            exp[(r["doc_id"], r["param_id"])] = r

    assert set(got) == set(exp)
    bad = []
    for k, e in exp.items():
        g = got[k]
        for f in FIELDS:
            ev, gv = e[f], g[f]
            ok = (math.isclose(ev, gv, abs_tol=1e-12)
                  if isinstance(ev, float) and isinstance(gv, float) else ev == gv)
            if not ok:
                bad.append((k, f, ev, gv))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_legacy_weights_differ_from_embedding(spark, docs_path):
    """Legacy uses direct_table=0.95/flag=0.85/computed=1.0 and no
    similarity boost — confidences must differ from embedding mode."""
    docs_df = pipeline.load_documents(spark, docs_path)
    leg = pipeline.extract_from_raw(docs_df, mode="legacy")
    assert leg.where("similarity_score IS NOT NULL").count() == 0
    confs = {r["confidence"] for r in
             leg.where("param_id = 'bureau_dpd_30'").collect()}
    assert confs <= {1.0, 0.0}
