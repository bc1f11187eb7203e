"""Spark SQL expression builders — JVM-side re-implementation of the
reference extraction semantics (independent of the Python oracle; the
tests prove row-for-row equality between the two).

Each builder returns a SQL expression *string* parameterized by the
expression that designates its input (a column name, a lambda variable,
or a nested expression), so the same logic composes inside higher-order
array functions.  Everything here stays inside whole-stage codegen — no
Python in the hot path.
"""

from __future__ import annotations

import functools
import sys
import unicodedata

# "rest of the array" length for slice(); NOT Int.MaxValue — Spark's
# slice overflows start+length in int32 and returns [] silently.
SLICE_REST = 1_000_000_000

# Python's whitespace set (str.strip() / re \s on str), as a Java regex
# class.  Java's \s is ASCII-only; the reference is Python, so every
# \s / strip() in its semantics must use this class for exact parity
# (found by fuzzing: ' '/'\xa0'-padded values diverged).
WS = (r"[\\s\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
      r"\\u2028\\u2029\\u202f\\u205f\\u3000]")


def strip_ws(v: str) -> str:
    """Python str.strip() equivalent (unicode-aware, unlike SQL trim)."""
    return f"regexp_replace({v}, '^{WS}+|{WS}+$', '')"


# ---------------------------------------------------------------------------
# scalar helpers (crif_parser.py:177-216)
# ---------------------------------------------------------------------------

@functools.cache
def _decimal_digits() -> tuple[str, str]:
    """Every non-ASCII code point with a Unicode decimal value, and its
    ASCII digit: the ``translate`` pair for Python float()'s own
    transliteration (650 code points in Unicode 14)."""
    src = [c for c in map(chr, range(128, sys.maxunicode + 1))
           if unicodedata.decimal(c, None) is not None]
    return "".join(src), "".join(str(unicodedata.decimal(c)) for c in src)


def clean_number(v: str) -> str:
    """clean_number (crif_parser.py:207-216): strip ','/'₹'/'Rs',
    float() else 0.0.  Python-parity details: unicode-whitespace strip
    (str.strip), float()'s transliteration of unicode decimal digits
    ('١٢٣' → 123.0), its single-underscore-between-digits rule, and
    a float-grammar gate before the cast — Spark's string→double cast
    additionally accepts Java-isms Python float() rejects (trailing
    'd'/'f' suffixes, hex-float '0x1p3', and it trims ASCII control
    chars <= 0x20 like '1\\x1b' — the r6 hypothesis counterexample),
    so a value outside Python's grammar must be 0.0 even when the
    cast would succeed."""
    src, dst = _decimal_digits()
    stripped = strip_ws(f"regexp_replace({v}, ',|₹|Rs', '')")
    cleaned = f"translate({stripped}, '{src}', '{dst}')"
    no_us = f"regexp_replace({cleaned}, '(?<=[0-9])_(?=[0-9])', '')"
    grammar = ("'^[+-]?([0-9]+(\\\\.[0-9]*)?|\\\\.[0-9]+)"
               "([eE][+-]?[0-9]+)?$|^[+-]?(?i:inf(inity)?|nan)$'")
    return (f"CASE WHEN {no_us} rlike {grammar} "
            f"THEN coalesce(try_cast({no_us} AS double), 0.0d) "
            f"ELSE 0.0d END")


def extract_field(text: str, field: str) -> str:
    """extract_field (crif_parser.py:177-183): first line containing
    `field` AND a ':' (a matching line without a colon is skipped and
    the scan continues); value = text after that line's first ':',
    stripped.  Pure regexp — no per-field array allocation; this sits
    in the per-account hot path."""
    line = f"regexp_extract({text}, '(?m)^(?=.*{field}).*:.*$', 0)"
    return f"regexp_extract({line}, '^[^:]*:{WS}*(.*?){WS}*$', 1)"


def payment_status(text: str, month: str) -> str:
    """crif_parser.py:193-204 — first case-insensitive match anywhere."""
    return (f"regexp_extract({text}, "
            f"'(?i){month}{WS}*[:\\\\-]?{WS}*([A-Z0-9\\\\-/]+)', 1)")


def dpd(status: str) -> str:
    """DPD grade decode (crif_models.py:11-32); '' → 0."""
    return _dpd_decode(f"lower({strip_ws(status)})")


def _dpd_decode(sl: str) -> str:
    return (f"(CASE WHEN {sl} IN ('000','std','000/std') THEN 0 "
            f"WHEN {sl} = '030' THEN 30 "
            f"WHEN {sl} = '060' THEN 60 "
            f"WHEN {sl} IN ('090','sub','090/sub') THEN 90 "
            f"WHEN {sl} IN ('120','dbt','120/dbt') THEN 120 "
            f"WHEN {sl} IN ('150','lss','150/lss','180') THEN 180 "
            f"WHEN {sl} = '-' THEN 0 "
            f"ELSE coalesce(try_cast(regexp_extract({sl}, '^([0-9]+)', 1) AS int), 0) "
            f"END)")


_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def worst_dpd(text: str) -> str:
    """max DPD across matched months, 0 when none (crif_models.py:47-50).

    The per-month status comes from payment_status, whose capture group
    is [A-Z0-9\\-/]+ — it can never carry whitespace, so the decode
    skips the unicode-strip regexps (a provable no-op there; str.strip
    on the reference side is likewise a no-op, crif_parser.py:193-204).
    That saves 12 regexp_replace evaluations per account in the hot
    path; parity is covered by the account-path oracle tests."""
    return "greatest(" + ", ".join(
        _dpd_decode(f"lower({payment_status(text, m)})") for m in _MONTHS) + ")"


def account_fields(text: str) -> dict[str, str]:
    """parse_account_from_text (crif_parser.py:146-174) as SCALAR
    column expressions keyed by field name.  Applied to an exploded
    one-row-per-account-chunk frame these all run inside whole-stage
    codegen — unlike a struct built inside ``transform(chunks, ...)``
    which falls back to interpreted evaluation (the round-1 scaling
    bottleneck)."""
    at = extract_field(text, "Account Type")
    return {
        "account_type": at,
        "remarks": extract_field(text, "Account Remarks"),
        "is_active": f"contains(lower({text}), 'active')",
        "is_secured": f"contains(lower({at}), 'secured')",
        "current_balance": clean_number(extract_field(text, "Current Balance")),
        "worst_dpd": worst_dpd(text),
    }


# ---------------------------------------------------------------------------
# table-signature extractors (crif_parser.py:28-127)
# ---------------------------------------------------------------------------

def lcols(t: str) -> str:
    return f"transform({t}.columns, lc_c -> lower(lc_c))"


def _cell(t: str, row: str, name: str, default: str = "'0'") -> str:
    """row.get(name, default) — exact-case pandas label lookup."""
    pos = f"array_position({t}.columns, '{name}')"
    return (f"(CASE WHEN {pos} > 0 THEN try_element_at({row}, cast({pos} AS int)) "
            f"ELSE {default} END)")


def summary_sig(t: str) -> str:
    """crif_parser.py:30-35 — non-empty + column signature."""
    return (f"(size({t}.rows) > 0 AND "
            f"(array_contains({lcols(t)}, 'number of accounts') OR "
            f"array_contains({lcols(t)}, 'active accounts')))")


def summary_cell(t: str, name: str) -> str:
    return clean_number(_cell(t, f"try_element_at({t}.rows, 1)", name))


def summary_struct(t: str) -> str:
    """crif_parser.py:38-44 (row 0 projection)."""
    return (
        "named_struct("
        f"'total_accounts', cast({summary_cell(t, 'Number of Accounts')} AS int), "
        f"'active_accounts', cast({summary_cell(t, 'Active Accounts')} AS int), "
        f"'total_current_balance', {summary_cell(t, 'Total Current Balance')}, "
        f"'total_overdue_amount', {summary_cell(t, 'Total Amount Overdue')}, "
        f"'total_writeoff_amount', {summary_cell(t, 'Total Writeoff Amt')})"
    )


SUMMARY_ZERO = ("named_struct('total_accounts', 0, 'active_accounts', 0, "
                "'total_current_balance', 0.0d, 'total_overdue_amount', 0.0d, "
                "'total_writeoff_amount', 0.0d)")


def doc_summary(tables: str = "tables") -> str:
    """extract_account_summary (crif_parser.py:49-63): first signature
    table, else zeros."""
    first = f"try_element_at(filter({tables}, t -> {summary_sig('t')}), 1)"
    return (f"(CASE WHEN {first} IS NULL THEN {SUMMARY_ZERO} "
            f"ELSE {summary_struct(first)} END)")


def score_sig(t: str) -> str:
    """crif_parser.py:68-73."""
    return (f"(size({t}.rows) > 0 AND "
            f"array_contains({lcols(t)}, 'requested service') AND "
            f"array_contains({lcols(t)}, 'score'))")


def score_from_table(t: str) -> str:
    """crif_parser.py:74-86 — first row with SCORE service + cleaned
    int in [300,900]; NULL when none (signature NOT checked here —
    compose with score_sig)."""
    service = f"upper({_cell(t, 'sr', 'Requested Service', chr(39) * 2)})"
    cell = _cell(t, "sr", "Score", "''")
    # try_cast: a 'nan' Score cell yields NULL → row skipped, matching
    # the reference's try/except-continue (crif_parser.py:79-85);
    # a plain cast would abort the whole job under ANSI.
    score = f"try_cast({clean_number(cell)} AS int)"
    row_score = (f"(CASE WHEN contains({service}, 'SCORE') AND {cell} != '' "
                 f"AND {score} BETWEEN 300 AND 900 THEN {score} END)")
    return (f"try_element_at(filter(transform({t}.rows, sr -> {row_score}), "
            f"s -> s IS NOT NULL), 1)")


def doc_score(tables: str = "tables") -> str:
    """extract_bureau_score (crif_parser.py:89-97): first non-null over
    signature tables."""
    return (f"try_element_at(filter(transform(filter({tables}, t -> {score_sig('t')}), "
            f"t -> {score_from_table('t')}), s -> s IS NOT NULL), 1)")


def inq_from_table(t: str) -> str:
    """extract_credit_inquiries_from_df (crif_parser.py:100-116)."""
    sig1 = (f"(array_contains({lcols(t)}, 'enquiry purpose') OR "
            f"contains(array_join({lcols(t)}, ' '), 'inquiry'))")
    pos1 = f"array_position({t}.columns, 'Number of Enquiries')"
    pos2 = f"array_position({t}.columns, 'Number of enquiries')"
    val = (f"(CASE WHEN {pos1} > 0 THEN try_element_at(ir, cast({pos1} AS int)) "
           f"WHEN {pos2} > 0 THEN try_element_at(ir, cast({pos2} AS int)) "
           f"ELSE '' END)")
    row_v = (f"(CASE WHEN {val} != '' THEN try_cast({clean_number(val)} AS int) END)")
    first_row = (f"try_element_at(filter(transform({t}.rows, ir -> {row_v}), "
                 f"v -> v IS NOT NULL), 1)")
    return (f"(CASE WHEN size({t}.rows) = 0 THEN CAST(NULL AS int) "
            f"WHEN {sig1} THEN size({t}.rows) "
            f"WHEN array_contains({lcols(t)}, 'number of enquiries') THEN {first_row} "
            f"END)")


def doc_inquiries(tables: str = "tables") -> str:
    """extract_credit_inquiries (crif_parser.py:119-127): first
    non-null over tables, else 0."""
    return (f"coalesce(try_element_at(filter(transform({tables}, "
            f"t -> {inq_from_table('t')}), v -> v IS NOT NULL), 1), 0)")


# ---------------------------------------------------------------------------
# flags / derived (crif_models.py:52-88)
# ---------------------------------------------------------------------------

FLAG_PREDS = {
    "bureau_suit_filed": "contains(lower({r}), 'suit filed')",
    "bureau_wilful_default": "contains(lower({r}), 'wilful default')",
    "bureau_settlement_writeoff": ("(contains(lower({r}), 'settlement') OR "
                                   "contains(lower({r}), 'write'))"),
}


def live_plbl_pred(account_type: str, is_active: str) -> str:
    """has_live_pl_bl per-account predicate (crif_models.py:80-88)."""
    return (f"({is_active} AND "
            f"(contains(lower({account_type}), 'personal loan') OR "
            f"contains(lower({account_type}), 'business loan')))")


# ---------------------------------------------------------------------------
# confidence (config.py:29-47, crif.py:540-561)
# ---------------------------------------------------------------------------

def boost(score: str) -> str:
    """Similarity-boost ladder — descending dict-order semantics."""
    return (f"(CASE WHEN {score} >= 0.85d THEN 1.0d "
            f"WHEN {score} >= 0.70d THEN 0.9d "
            f"WHEN {score} >= 0.50d THEN 0.7d ELSE 0.5d END)")


def validity(value: str, validator: str | None) -> str:
    """parameter_specs validators as predicates (value non-null)."""
    if validator == "score_range":
        return f"({value} BETWEEN 300 AND 900)"
    if validator == "non_negative":
        return f"({value} >= 0)"
    return "true"


# ---------------------------------------------------------------------------
# GSTR-3B (gstr.py)
# ---------------------------------------------------------------------------

FULL_MONTHS_RE = ("January|February|March|April|May|June|July|August|"
                  "September|October|November|December")


def gstr_month(text: str = "text") -> str:
    """gstr.py:39-65 over the first 20 lines."""
    ht = f"substring_index({text}, '\\n', 20)"
    mm = (f"regexp_extract({ht}, "
          f"'(?i)(?:Month|Period){WS}*[:\\\\-]?{WS}*([A-Za-z]+)', 1)")
    ym = (f"regexp_extract({ht}, "
          f"'(?i)(?:Year|Financial Year){WS}*[:\\\\-]?{WS}*"
          f"([0-9]{{4}}(?:-[0-9]{{2,4}})?)', 1)")
    dm = (f"regexp_extract({ht}, '\\\\b(?:{FULL_MONTHS_RE}){WS}*20[0-9]{{2}}\\\\b', 0)")
    return (f"(CASE WHEN {mm} != '' AND {ym} != '' "
            f"THEN concat({mm}, ' ', try_element_at(split({ym}, '-'), 1)) "
            f"WHEN {dm} != '' THEN {dm} "
            f"ELSE 'Unknown Month' END)")


def gstr_table_sig(t: str) -> str:
    """gstr.py:74-90 — strong column signature or weak content match."""
    strong = (f"(exists({lcols(t)}, gc -> contains(gc, 'integrated')) AND "
              f"exists({lcols(t)}, gc -> contains(gc, 'central')) AND "
              f"exists({lcols(t)}, gc -> contains(gc, 'taxable')))")
    norm = f"regexp_replace(lower({t}.raw), '{WS}+', ' ')"
    weak = (f"(contains({norm}, '3.1') AND "
            f"(contains({norm}, 'outward') OR contains({norm}, 'supplies')))")
    return f"({strong} OR {weak})"


def gstr_first_table(tables: str = "tables") -> str:
    return f"try_element_at(filter({tables}, t -> {gstr_table_sig('t')}), 1)"


def gstr_taxable_idx(t: str) -> str:
    """gstr.py:107-116 — 0-based column index ('taxable'+'value', else
    1, else last)."""
    hit = (f"try_element_at(filter(transform({t}.columns, (gx, gi) -> "
           f"named_struct('lc', lower(gx), 'i', gi)), "
           f"h -> contains(h.lc, 'taxable') AND contains(h.lc, 'value')), 1)")
    return (f"(CASE WHEN {hit} IS NOT NULL THEN {hit}.i "
            f"WHEN size({t}.columns) > 1 THEN 1 "
            f"ELSE size({t}.columns) - 1 END)")


def gstr_sales_row(t: str) -> str:
    """gstr.py:122-124 — first '(a)' / 'outward taxable supplies' row."""
    return (f"try_element_at(filter({t}.rows, gr -> "
            f"contains(lower(array_join(gr, ' ')), '(a)') OR "
            f"contains(lower(array_join(gr, ' ')), 'outward taxable supplies')), 1)")


def clean_currency(v: str) -> str:
    """gstr.py:144-155 — keep digits and dots only; float else 0.0."""
    return (f"coalesce(try_cast(regexp_replace({v}, '[^0-9.]', '') AS double), 0.0d)")
