"""Pure-Python reference-semantics oracle (no Spark).

Given a raw document ``{doc_id, spans}`` this computes the expected
clean span sequence and the expected parameter rows by mirroring the
reference's extraction control flow exactly:

* routing crif/gstr/html  — main.py:66-69
* embedding-guided flow   — crif.py:123-221
* chunk-aware direct      — crif.py:311-375
* chunk-aware flags       — crif.py:377-426
* derived (always global) — crif.py:428-436
* policy                  — crif.py:302-309
* GSTR month + Table 3.1  — gstr.py:11-142
* confidence formula      — crif.py:540-561 (note: 'chunk_aware' is
  absent from CONFIDENCE_METHOD_WEIGHTS, so it weighs 0.5)
* output shape + overall  — output_formatter.py:12-70 and the API
  variant at main.py:70-78

Every derived value comes from :mod:`.semantics`, the same functions
the fused stage calls (the query embeddings and scoring, the candidate
pool, the report's and a chunk's accounts, the chunk-aware table values,
the remark flags); this module holds only the reference's control flow,
source labels, validation and confidence.  That guards the fused stage
against drift in its own control flow, not in the shared derivations;
the Spark engine's JVM-side SQL is implemented independently and must
match this oracle row-for-row (tests/).
"""

from __future__ import annotations

from typing import Any, Optional

from . import semantics as S
from .specs import PARAMETER_SPECS


def _validate(spec: dict, value: Any) -> bool:
    """parameter_specs.py:31-41."""
    if value is None:
        return spec["category"] == "policy"
    t = spec["expected_type"]
    if t == "int" and not isinstance(value, int):
        return False
    if t == "float" and not isinstance(value, float):
        return False
    if t == "bool" and not isinstance(value, bool):
        return False
    if spec["validator"] == "score_range" and not (300 <= value <= 900):
        return False
    if spec["validator"] == "non_negative" and not (value >= 0):
        return False
    return True


def _confidence(spec: dict, value: Any, method: str) -> float:
    """crif.py:540-554."""
    w = S.method_weight(method)
    if not _validate(spec, value):
        return 0.0
    if value is None:
        certainty = 0.0
    else:
        certainty = 1.0  # values are constructed with the right type
    return w * certainty


def _row(doc_id: str, param_id: str, value: Any, source: str,
         confidence: float, status: str,
         similarity: Optional[float]) -> dict:
    value_num = None
    value_bool = None
    value_str = None
    if isinstance(value, bool):
        value_bool = value
        vtype = "bool"
    elif isinstance(value, int):
        value_num = float(value)
        vtype = "int"
    elif isinstance(value, float):
        value_num = value
        vtype = "float"
    elif isinstance(value, str):
        value_str = value
        vtype = "string"
    else:
        vtype = "null"
    return {
        "doc_id": doc_id, "param_id": param_id,
        "value_num": value_num, "value_bool": value_bool,
        "value_str": value_str, "value_type": vtype,
        "source": source, "confidence": confidence, "status": status,
        "similarity_score": similarity,
    }


def parse_document(doc: dict) -> dict:
    """The parse stage: clean spans + rendered text + tables + chunks."""
    cs = S.clean_spans(doc["spans"])
    return {
        "doc_id": doc["doc_id"],
        "clean_spans": cs,
        "text": S.render_text(cs),
        "tables": S.build_tables(cs),
        "chunks": S.build_chunks(cs),
    }


def _report(parsed: dict) -> dict:
    """parse_crif_report (crif_parser.py:7-25) equivalents."""
    return {
        "accounts": S.report_accounts(parsed["chunks"]),
        "summary": S.account_summary(parsed["tables"]),
        "score": S.bureau_score(parsed["tables"]),
        "inquiries": S.credit_inquiries(parsed["tables"]),
    }


#: each direct parameter's source label (crif.py:223-250)
_DIRECT_SOURCES = {
    "bureau_credit_score": "Verification Table",
    "bureau_written_off_debt_amount": "Account Summary Table",
    "bureau_max_loans": "Account Summary Table",
    "bureau_max_active_loans": "Account Summary Table",
    "bureau_credit_inquiries": "Inquiry Table",
}


def _direct_report_value(spec_id: str, report: dict) -> tuple[Any, str]:
    """crif.py:223-250."""
    summary = report["summary"]
    value = {
        "bureau_credit_score": report["score"],
        "bureau_written_off_debt_amount": summary["total_writeoff_amount"],
        "bureau_max_loans": int(summary["total_accounts"]),
        "bureau_max_active_loans": int(summary["active_accounts"]),
        "bureau_credit_inquiries": report["inquiries"],
    }.get(spec_id)
    return value, _DIRECT_SOURCES.get(spec_id, "Unknown direct parameter")


def _derived_value(spec_id: str, accounts: list[dict]) -> Any:
    """crif.py:279-300 — the DPD counts and the live PL/BL check."""
    for days in (30, 60, 90):
        if spec_id == f"bureau_dpd_{days}":
            return sum(1 for a in accounts if a["worst_dpd"] >= days)
    if spec_id == "bureau_no_live_pl_bl":
        return not any(S.is_live_pl_bl(a) for a in accounts)
    return None


def extract_crif(parsed: dict) -> list[dict]:
    doc_id = parsed["doc_id"]
    report = _report(parsed)
    tables, chunks = parsed["tables"], parsed["chunks"]
    cands = S.candidate_pool(tables, chunks)
    retrieved = S.retrieve_best([S.embed(c["content"]) for c in cands])
    accounts = report["accounts"]
    rows = []

    for spec_i, spec in enumerate(PARAMETER_SPECS):
        pid = spec["param_id"]
        if spec["category"] == "policy":
            rows.append(_row(doc_id, pid, None, "Not applicable (policy parameter)",
                             0.0, "not_applicable", None))
            continue

        best_i, score = retrieved[spec_i]
        if best_i is None:
            rows.append(_row(doc_id, pid, None, "No relevant sections found",
                             0.0, "not_found", None))
            continue
        best = cands[best_i]
        # table ids and chunk indexes are list positions
        ref = (tables if best["ctype"] == "table" else chunks)[best["ref_idx"]]

        if spec["category"] == "direct":
            # chunk-aware (crif.py:311-359, table candidates only)
            value = (S.direct_table_value(pid, ref)
                     if best["ctype"] == "table" else None)
            if value is not None:
                # crif.py:99 source label
                source = f"{_DIRECT_SOURCES[pid]} (from Table {ref['id'] + 1})"
                conf = _confidence(spec, value, "chunk_aware")
            else:
                value, source = _direct_report_value(pid, report)
                conf = _confidence(spec, value, "embedding_guided")
        elif spec["category"] == "flag":
            value = None
            # chunk-aware flags (crif.py:388-422)
            if best["ctype"] == "text" and pid in S.FLAG_PREDICATES:
                in_chunk = S.chunk_accounts(ref["text"])
                matched = S.count_flagged(pid, in_chunk)
                if matched > 0:
                    value = True
                    source = (f"Account Remarks ({matched}/"
                              f"{len(in_chunk)} accounts in chunk)")
                    conf = _confidence(spec, value, "chunk_aware")
            if value is None:
                # report-level (crif.py:252-277); ntc/unknown → (False, 0)
                matched = S.count_flagged(pid, accounts)
                value = matched > 0
                source = f"Account Remarks ({matched}/{len(accounts)} accounts)"
                conf = _confidence(spec, value, "embedding_guided")
        else:  # derived (always report-level per crif.py:428-436)
            value = _derived_value(pid, accounts)
            source = f"Computed from {len(accounts)} accounts"
            conf = _confidence(spec, value, "embedding_guided")

        # crif.py:208-215: boost + status only when a value was extracted
        if value is not None:
            rows.append(_row(doc_id, pid, value, source,
                             conf * S.similarity_boost(score), "extracted", score))
        else:
            # formatter default status (output_formatter.py:22)
            rows.append(_row(doc_id, pid, value, source, conf, "extracted", None))
    return rows


_LEGACY_WEIGHTS = {"direct": 0.95, "flag": 0.85, "derived": 1.0}


def extract_crif_legacy(parsed: dict) -> list[dict]:
    """Legacy direct-parsing mode (crif_legacy.py:22-159,
    USE_EMBEDDING_GUIDED_EXTRACTION=False): report-level only, method
    weights direct_table=0.95 / flag_detection=0.85 / computed=1.0, no
    similarity boost, no status keys (formatter default 'extracted' —
    including policy parameters, crif_legacy.py:134-139)."""
    doc_id = parsed["doc_id"]
    report = _report(parsed)
    accounts = report["accounts"]
    rows = []
    for spec in PARAMETER_SPECS:
        pid = spec["param_id"]
        if spec["category"] == "policy":
            rows.append(_row(doc_id, pid, None,
                             "Not applicable (policy parameter)", 0.0,
                             "extracted", None))
            continue
        if spec["category"] == "direct":
            value, source = _direct_report_value(pid, report)
        elif spec["category"] == "flag":
            matched = S.count_flagged(pid, accounts)
            value = matched > 0
            source = f"Account Remarks ({matched}/{len(accounts)} accounts)"
        else:
            value = _derived_value(pid, accounts)
            source = f"Computed from {len(accounts)} accounts"
        w = _LEGACY_WEIGHTS[spec["category"]]
        conf = w if (value is not None and _validate(spec, value)) else 0.0
        rows.append(_row(doc_id, pid, value, source, conf, "extracted", None))
    return rows


def extract_gstr(parsed: dict) -> list[dict]:
    doc_id = parsed["doc_id"]
    month = S.gstr_month(parsed["text"])
    sales = S.gstr_sales(parsed["tables"])
    if sales is None:
        src, conf, status, value = "GSTR-3B Table 3.1 not found", 0.0, "not_found", None
    else:
        src, conf, status, value = sales["source"], sales["confidence"], "extracted", sales["value"]
    return [
        _row(doc_id, "gst_sales", value, src, conf, status, None),
        _row(doc_id, "gst_month", month, src, conf, status, None),
    ]


def extract_document(doc: dict) -> dict:
    """Full per-document oracle: clean spans + parameter rows."""
    parsed = parse_document(doc)
    kind = S.doc_kind(doc["doc_id"])
    if kind == "crif":
        results = extract_crif(parsed)
    elif kind == "gstr":
        results = extract_gstr(parsed)
    else:
        results = []
    return {"doc_id": doc["doc_id"], "clean_spans": parsed["clean_spans"],
            "results": results}


def overall_confidence(rows: list[dict], variant: str = "formatter") -> float:
    """A8 — formatter variant (output_formatter.py:46-70, drops zeros,
    round 3) vs API variant (main.py:70-78, keeps zeros, round 2)."""
    confs = [r["confidence"] for r in rows]
    if variant == "formatter":
        confs = [c for c in confs if c > 0]
        if not confs:
            return 0.0
        return round(sum(confs) / len(confs), 3)
    if not confs:
        return 0.0
    return round(sum(confs) / len(confs), 2)
