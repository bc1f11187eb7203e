"""CRIF bureau-report parameter extraction — the result builders.

Mirrors the reference control flow (crif.py:37-78, 123-221) for all 15
parameters.  Every per-parameter scalar the result structs read
(best score, chunk-aware value, winning table id, chunk account
counts, report and account aggregates) is a primitive column, built by
one of two independent engines:

* the fused parse (parse.py ``fuse_retrieval=True``): one Python stage
  computes them all, and ``extract_all_udf`` is a pure-codegen
  projection over its output — the shipped plan;
* the relational engine (``extract_all(engine='sql')``): the text,
  tables and chunks of a full parse, then JVM-side retrieval and
  account aggregation (retrieval_sql.py) — the independent
  cross-check.

Kind routing (main.py:66-69) is a CASE over per-kind result arrays in
one projection (``_explode_by_kind``), so the parse stage executes
exactly once (a plan-level union re-runs it per branch).

Reference-faithful quirks preserved (see oracle.py for the full list):

* 'chunk_aware' is missing from CONFIDENCE_METHOD_WEIGHTS → weight 0.5
  (crif.py:542 ``dict.get(..., 0.5)``)
* a direct parameter whose value is None after fallback still reports
  status 'extracted' (output_formatter.py:22 default)
* derived parameters always compute from the full report
  (crif.py:428-436)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import sqlexpr as X
from .gstr import gstr_results
from ..specs import PARAMETER_SPECS

_NULLS = ("CAST(NULL AS double)", "CAST(NULL AS boolean)",
          "CAST(NULL AS string)", "CAST(NULL AS double)")

RESULT_FIELDS = ("param_id", "value_num", "value_bool", "value_str",
                 "value_type", "source", "confidence", "status",
                 "similarity_score")


def _result(param_id: str, value_num: str, value_bool: str, value_str: str,
            value_type: str, source: str, confidence: str, status: str,
            sim: str) -> str:
    return ("named_struct("
            f"'param_id', '{param_id}', "
            f"'value_num', {value_num}, "
            f"'value_bool', {value_bool}, "
            f"'value_str', {value_str}, "
            f"'value_type', {value_type}, "
            f"'source', {source}, "
            f"'confidence', {confidence}, "
            f"'status', {status}, "
            f"'similarity_score', {sim})")


def _policy_result(pid: str) -> str:
    return _result(pid, *_NULLS[:3], "'null'",
                   "'Not applicable (policy parameter)'", "0.0d",
                   "'not_applicable'", _NULLS[3])


def _not_found_result(pid: str) -> str:
    return _result(pid, *_NULLS[:3], "'null'",
                   "'No relevant sections found'", "0.0d",
                   "'not_found'", _NULLS[3])


# per-spec chunk-aware DIRECT extraction (crif.py:311-359); bt = the
# best chunk's table (or NULL)
def _direct_chunk_value(pid: str, bt: str) -> str:
    if pid == "bureau_credit_score":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.score_sig(bt)} "
                f"THEN {X.score_from_table(bt)} END)")
    if pid == "bureau_written_off_debt_amount":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN {X.summary_cell(bt, 'Total Writeoff Amt')} END)")
    if pid == "bureau_max_loans":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN cast({X.summary_cell(bt, 'Number of Accounts')} AS int) END)")
    if pid == "bureau_max_active_loans":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN cast({X.summary_cell(bt, 'Active Accounts')} AS int) END)")
    if pid == "bureau_credit_inquiries":
        return f"(CASE WHEN {bt} IS NOT NULL THEN {X.inq_from_table(bt)} END)"
    raise KeyError(pid)


_DIRECT_LABEL = {
    "bureau_credit_score": "Verification Table",
    "bureau_written_off_debt_amount": "Account Summary Table",
    "bureau_max_loans": "Account Summary Table",
    "bureau_max_active_loans": "Account Summary Table",
    "bureau_credit_inquiries": "Inquiry Table",
}

_DIRECT_REPORT_VALUE = {
    "bureau_credit_score": "rep_score",
    "bureau_written_off_debt_amount": "rep_sum_total_writeoff_amount",
    "bureau_max_loans": "rep_sum_total_accounts",
    "bureau_max_active_loans": "rep_sum_active_accounts",
    "bureau_credit_inquiries": "rep_inquiries",
}

#: doc_summary struct fields, flattened to primitive columns so every
#: column that crosses the account aggregation has a mutable (hash-
#: aggregable) buffer type — struct/array carries would force the
#: whole aggregation into SortAggregate
_SUMMARY_FIELDS = ("total_accounts", "active_accounts",
                   "total_current_balance", "total_overdue_amount",
                   "total_writeoff_amount")


def _direct_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    bt_id = f"bt_id_{i}"
    chunk_val = f"cv_{i}"
    rep_val = _DIRECT_REPORT_VALUE[pid]
    label = _DIRECT_LABEL[pid]
    value = f"coalesce({chunk_val}, {rep_val})"
    is_float = spec["expected_type"] == "float"
    valid = X.validity("vv", spec["validator"])
    # crif.py:540-554 + 556-561: weight 0.5 (chunk) / 0.9 (report),
    # zeroed by validator, × similarity boost when a value exists
    conf = (f"(CASE WHEN {value} IS NULL THEN 0.0d "
            f"ELSE (CASE WHEN NOT (SELECT_VALID) THEN 0.0d "
            f"WHEN {chunk_val} IS NOT NULL THEN 0.5d ELSE 0.9d END) "
            f"* {X.boost(bscore)} END)"
            ).replace("SELECT_VALID", valid.replace("vv", value))
    source = (f"(CASE WHEN {chunk_val} IS NOT NULL "
              f"THEN concat('{label} (from Table ', cast({bt_id} + 1 AS string), ')') "
              f"ELSE '{label}' END)")
    vtype = (f"(CASE WHEN {value} IS NULL THEN 'null' "
             f"ELSE '{'float' if is_float else 'int'}' END)")
    sim = f"(CASE WHEN {value} IS NOT NULL THEN {bscore} END)"
    return _result(pid, f"cast({value} AS double)", _NULLS[1], _NULLS[2],
                   vtype, source, conf, "'extracted'", sim)


def _flag_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    if pid in X.FLAG_PREDS:
        # nc_i / mc_i: accounts / matched accounts in the winning text
        # chunk's 'Account Number:' sub-blocks (crif.py:395-401)
        n_chunk = f"nc_{i}"
        m_chunk = f"mc_{i}"
        chunk_ok = f"({n_chunk} > 0 AND {m_chunk} > 0)"
        rep_m = f"rep_m_{pid}"
        value = f"(CASE WHEN {chunk_ok} THEN true ELSE {rep_m} > 0 END)"
        source = (f"(CASE WHEN {chunk_ok} THEN concat('Account Remarks (', "
                  f"cast({m_chunk} AS string), '/', cast({n_chunk} AS string), "
                  f"' accounts in chunk)') "
                  f"ELSE concat('Account Remarks (', cast({rep_m} AS string), "
                  f"'/', cast(n_accounts AS string), ' accounts)') END)")
        conf = (f"(CASE WHEN {chunk_ok} THEN 0.5d ELSE 0.9d END) "
                f"* {X.boost(bscore)}")
    else:  # bureau_ntc_accepted — no checker, report path (crif.py:263-266)
        value = "false"
        source = "concat('Account Remarks (0/', cast(n_accounts AS string), ' accounts)')"
        conf = f"0.9d * {X.boost(bscore)}"
    return _result(pid, _NULLS[0], value, _NULLS[2], "'bool'",
                   source, conf, "'extracted'", bscore)


_DERIVED_VALUE = {
    "bureau_dpd_30": ("rep_dpd30", "int"),
    "bureau_dpd_60": ("rep_dpd60", "int"),
    "bureau_dpd_90": ("rep_dpd90", "int"),
    "bureau_no_live_pl_bl": ("NOT rep_live_plbl", "bool"),
}


def _derived_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    value, vtype = _DERIVED_VALUE[pid]
    source = "concat('Computed from ', cast(n_accounts AS string), ' accounts')"
    conf = f"0.9d * {X.boost(bscore)}"
    if vtype == "bool":
        return _result(pid, _NULLS[0], f"({value})", _NULLS[2], "'bool'",
                       source, conf, "'extracted'", bscore)
    return _result(pid, f"cast({value} AS double)", _NULLS[1], _NULLS[2],
                   "'int'", source, conf, "'extracted'", bscore)


def _embedding_results() -> list[str]:
    """The 15 crif result structs of embedding mode over the
    per-parameter scalar columns (either engine's)."""
    results = []
    for i, spec in enumerate(PARAMETER_SPECS):
        pid = spec["param_id"]
        if spec["category"] == "policy":
            results.append(_policy_result(pid))
            continue
        if spec["category"] == "direct":
            struct = _direct_param(i, spec)
        elif spec["category"] == "flag":
            struct = _flag_param(i, spec)
        else:
            struct = _derived_param(i, spec)
        # retrieval miss → NOT_FOUND (crif.py:154-162)
        results.append(f"(CASE WHEN bscore_{i} IS NULL "
                       f"THEN {_not_found_result(pid)} ELSE {struct} END)")
    return results


def _by_kind(kind: str, crif: str, gstr: str, other: str) -> str:
    return (f"CASE {kind} WHEN 'crif' THEN {crif} WHEN 'gstr' THEN {gstr} "
            f"ELSE {other} END")


def _explode_by_kind(df: DataFrame, crif_results: list[str]) -> DataFrame:
    """One result row per (document, parameter): the crif structs for
    crif docs, the two GSTR structs for gstr docs, nothing otherwise."""
    arr = _by_kind("doc_kind", f"array({', '.join(crif_results)})",
                   f"array({', '.join(gstr_results())})", "array()")
    return (df.select("doc_id", F.explode(F.expr(arr)).alias("r"))
            .select("doc_id", *[f"r.{f}" for f in RESULT_FIELDS]))


def result_rows(doc_kind: str) -> str:
    """SQL: the number of rows ``_explode_by_kind`` emits for a document
    of kind ``doc_kind`` (a SQL expression) — one per parameter spec for
    crif (both modes build one struct per spec), one per GSTR struct
    for gstr, none otherwise."""
    return _by_kind(f"({doc_kind})", str(len(PARAMETER_SPECS)),
                    str(len(gstr_results())), "0")


def _with_tables(df: DataFrame) -> DataFrame:
    """Table-signature report values (crif_parser.py:28-127) for the
    relational engine — narrow higher-order exprs over the small per-doc
    tables array; the summary struct is flattened to primitive columns
    (see _SUMMARY_FIELDS).  The fused parse computes the same values in
    Python (semantics account_summary/bureau_score/credit_inquiries);
    the A9b agreement query cross-checks the two end-to-end."""
    df = (df.withColumn("rep_score", F.expr(X.doc_score()))
          .withColumn("rep_summary", F.expr(X.doc_summary()))
          .withColumn("rep_inquiries", F.expr(X.doc_inquiries())))
    for fld in _SUMMARY_FIELDS:
        df = df.withColumn(f"rep_sum_{fld}", F.col(f"rep_summary.{fld}"))
    return df.drop("rep_summary")


def is_fused(parsed: DataFrame) -> bool:
    """True for a fused parse (``parse_documents(fuse_retrieval=True)``)."""
    return "bscore_0" in parsed.columns


def _require_fused(parsed: DataFrame) -> None:
    if not is_fused(parsed):
        raise ValueError(
            "this form reads the fused parse — use "
            "parse_documents(docs, fuse_retrieval=True) or "
            "pipeline.extract_from_raw(docs)")


_LEGACY_WEIGHTS = {"direct": "0.95d", "flag": "0.85d", "derived": "1.0d"}


def extract_legacy(parsed: DataFrame) -> DataFrame:
    """Legacy direct-parsing mode (crif_legacy.py:22-159,
    USE_EMBEDDING_GUIDED_EXTRACTION=False) over the fused parse:
    report-level values only, direct_table/flag_detection/computed
    weights, no similarity boost, formatter-default 'extracted' status
    everywhere (incl. policy).  GSTR documents get the same two rows as
    in embedding mode."""
    _require_fused(parsed)
    results = []
    for spec in PARAMETER_SPECS:
        pid = spec["param_id"]
        cat = spec["category"]
        if cat == "policy":
            results.append(_result(pid, *_NULLS[:3], "'null'",
                                   "'Not applicable (policy parameter)'",
                                   "0.0d", "'extracted'", _NULLS[3]))
            continue
        w = _LEGACY_WEIGHTS[cat]
        if cat == "direct":
            value = _DIRECT_REPORT_VALUE[pid]
            valid = X.validity(value, spec["validator"])
            conf = (f"(CASE WHEN {value} IS NULL THEN 0.0d "
                    f"WHEN NOT {valid} THEN 0.0d ELSE {w} END)")
            vtype = (f"(CASE WHEN {value} IS NULL THEN 'null' ELSE "
                     f"'{'float' if spec['expected_type'] == 'float' else 'int'}' END)")
            results.append(_result(pid, f"cast({value} AS double)", _NULLS[1],
                                   _NULLS[2], vtype,
                                   f"'{_DIRECT_LABEL[pid]}'", conf,
                                   "'extracted'", _NULLS[3]))
        elif cat == "flag":
            m = f"rep_m_{pid}" if pid in X.FLAG_PREDS else "0"
            value = f"({m} > 0)"
            source = (f"concat('Account Remarks (', cast({m} AS string), '/', "
                      f"cast(n_accounts AS string), ' accounts)')")
            results.append(_result(pid, _NULLS[0], value, _NULLS[2], "'bool'",
                                   source, w, "'extracted'", _NULLS[3]))
        else:
            value, vtype = _DERIVED_VALUE[pid]
            source = "concat('Computed from ', cast(n_accounts AS string), ' accounts')"
            if vtype == "bool":
                results.append(_result(pid, _NULLS[0], f"({value})", _NULLS[2],
                                       "'bool'", source, w, "'extracted'", _NULLS[3]))
            else:
                results.append(_result(pid, f"cast({value} AS double)",
                                       _NULLS[1], _NULLS[2], "'int'", source,
                                       w, "'extracted'", _NULLS[3]))
    return _explode_by_kind(parsed, results)


def default_engine(n_docs: int | None = None) -> str:
    """The engine every production entry point runs: 'udf', the fused
    plan.  Kept for ``bench.py``, which reports it; ``n_docs`` is
    ignored.  The relational engine is reached only by calling it,
    ``extract_all(parse_documents(docs), engine='sql')``."""
    return "udf"


def extract_all(parsed: DataFrame, engine: str | None = None) -> DataFrame:
    """Embedding-mode extraction for both document kinds.

    engine=None or 'udf': ``extract_all_udf`` over a fused parse.
    engine='sql': the relational engine over any full parse — an
    INDEPENDENT physical plan; the A9b agreement query
    (test_accuracy.py:79-115 analogue) proves the two agree.  It reads
    ``text``, ``tables`` and ``chunks`` straight from the full parse
    (built there by its one pandas_udf), then retrieval and account
    aggregation run JVM-side (retrieval_sql.py)."""
    if engine in (None, "udf"):
        return extract_all_udf(parsed)
    from .gstr import with_gstr_columns
    from .retrieval_sql import relational_extract_columns

    if is_fused(parsed):
        raise ValueError(
            "engine='sql' needs a full parse (text, tables, chunks); got "
            "a pre-flattened fused parse — use parse_documents(docs) "
            "without fuse_retrieval")
    df = relational_extract_columns(with_gstr_columns(_with_tables(parsed)))
    return _explode_by_kind(df, _embedding_results())


def extract_all_udf(parsed: DataFrame) -> DataFrame:
    """Arrow-UDF engine: a pure-codegen projection over the fused parse
    (parse.py fuse_retrieval=True), where every per-parameter scalar is
    already a primitive column — build the result structs, explode.
    Zero shuffles, zero JVM HOFs (the flagship plan)."""
    _require_fused(parsed)
    return _explode_by_kind(parsed, _embedding_results())
