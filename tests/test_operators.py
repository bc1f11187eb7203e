"""Unit tests of the JVM-side SQL operators vs the pure-Python
semantics (the SQL is an independent implementation — these prove the
two agree on reference-cited edge cases)."""

import pytest
from pyspark.sql import functions as F

from crego_document_extractor_spark import semantics as S
from crego_document_extractor_spark.extract import sqlexpr as X


def _eval(spark, expr_sql, **cols):
    df = spark.createDataFrame([cols or {"dummy": 1}])
    return df.select(F.expr(expr_sql).alias("v")).collect()[0]["v"]


# --- DPD grade decode (crif_models.py:11-32) -------------------------------

DPD_CASES = ["000", "STD", "000/std", "030", "060", "090", "SUB", "090/SUB",
             "120", "dbt", "150", "LSS", "150/lss", "180", "-", "XXX",
             "45", "45x", "", "  060  ", "7/DPD"]


@pytest.mark.parametrize("status", DPD_CASES)
def test_dpd_sql_matches_python(spark, status):
    got = _eval(spark, X.dpd("s"), s=status)
    assert got == S.dpd_for_status(status)


# --- clean_number (crif_parser.py:207-216) ---------------------------------

NUM_CASES = ["1,234.56", "₹5,00,000", "Rs 123", "  42 ", "", "n/a", "-12.5",
             "1.2.3", "0", "00123", "Rs", "₹", "1e3",
             # Python-parity edges: unicode whitespace (str.strip) and
             # float()'s digit-underscore rule
             " 42 ", "　-7.25\t", "1_000.5", "1__0", "_1", "1_"]


@pytest.mark.parametrize("v", NUM_CASES)
def test_clean_number_sql_matches_python(spark, v):
    got = _eval(spark, X.clean_number("s"), s=v)
    assert got == S.clean_number(v)


# --- extract_field first-line semantics (crif_parser.py:177-183) -----------

FIELD_CASES = [
    ("Account Type: Personal Loan\nAccount Type: Other", "Account Type"),
    ("noise\nOwnership: Joint", "Ownership"),
    ("Account Type missing colon\nAccount Type: Gold Loan", "Account Type"),
    ("nothing here", "Account Type"),
    ("Remarks: a:b:c", "Remarks"),
    ("", "Account Type"),
    ("Account Type: Gold Loan ", "Account Type"),  # unicode strip
    ("Account Type:　ideographic pad　", "Account Type"),
]


@pytest.mark.parametrize("text,field", FIELD_CASES)
def test_extract_field_sql_matches_python(spark, text, field):
    got = _eval(spark, X.extract_field("s", field), s=text)
    assert got == S.extract_field(text, field)


# --- payment-history regex + worst DPD -------------------------------------

PH_CASES = [
    "Payment History: Jan: 000 Feb - 030 Mar:STD",
    "Jan 090 Dec: 180",
    "Account Remarks: Settled\nJul: 120",  # 'Mar' matches inside 'Remarks'
    "no months at all",
    "May-060/SUB",
]


@pytest.mark.parametrize("text", PH_CASES)
def test_worst_dpd_sql_matches_python(spark, text):
    got = _eval(spark, X.worst_dpd("s"), s=text)
    exp = 0
    for m in S.MONTHS_ABBR:
        st = S.payment_status(text, m)
        if st:
            exp = max(exp, S.dpd_for_status(st))
    assert got == exp


# --- similarity boost ladder (config.py:29-34 order) ------------------------

@pytest.mark.parametrize("score", [0.99, 0.85, 0.849999, 0.70, 0.69, 0.50,
                                   0.499, 0.0, -0.3])
def test_boost_ladder(spark, score):
    got = _eval(spark, X.boost("cast(s AS double)"), s=score)
    assert got == S.similarity_boost(score)


# --- GSTR month extraction (gstr.py:39-65) ----------------------------------

MONTH_CASES = [
    "Month : January\nYear : 2024-25",
    "Period - April\nFinancial Year: 2023-2024",
    "Filed for September 2025",
    "month: may\nyear: 2022",
    "no period info",
    "Month: Jan\nno year line",  # month without year → fallback path
    "\n".join([f"line{i}" for i in range(25)]) + "\nMonth : June\nYear : 2024",  # beyond 20 lines
]


@pytest.mark.parametrize("text", MONTH_CASES)
def test_gstr_month_sql_matches_python(spark, text):
    got = _eval(spark, X.gstr_month("s"), s=text)
    assert got == S.gstr_month(text)


# --- clean_currency (gstr.py:144-155) ---------------------------------------

@pytest.mark.parametrize("v", ["₹9,51,381.00", "1.2.3", "", "abc", "12a34"])
def test_clean_currency_sql_matches_python(spark, v):
    got = _eval(spark, X.clean_currency("s"), s=v)
    assert got == S.clean_currency(v)


# --- table signatures + first-match over document order ---------------------

def _mk_table(columns, rows, tid=0, page=3):
    raw = "\n".join([" | ".join(columns)] + [" | ".join(r) for r in rows])
    return {"id": tid, "page": page, "columns": columns, "rows": rows,
            "raw": raw}


TABLES_SQL_SCHEMA = ("array<struct<id:int,page:int,columns:array<string>,"
                     "rows:array<array<string>>,raw:string>>")


def _eval_tables(spark, expr_sql, tables):
    df = spark.createDataFrame([{"x": 1}])
    lit = spark.createDataFrame(
        [{"tables": [(t["id"], t["page"], t["columns"], t["rows"], t["raw"])
                     for t in tables]}],
        schema=f"tables {TABLES_SQL_SCHEMA}")
    return lit.select(F.expr(expr_sql).alias("v")).collect()[0]["v"]


def test_score_first_match_document_order(spark):
    """extract_bureau_score takes the first table (doc order) whose
    signature matches AND yields a valid score (crif_parser.py:89-97)."""
    tables = [
        _mk_table(["Requested Service", "Score"], [["IDENTITY", ""]], 0),
        _mk_table(["Requested Service", "Score"],
                  [["X CHECK", "999"], ["CB SCORE", "651"]], 1),
        _mk_table(["Requested Service", "Score"], [["CB SCORE", "700"]], 2),
    ]
    assert _eval_tables(spark, X.doc_score("tables"), tables) == 651
    assert S.bureau_score(tables) == 651


def test_summary_exact_case_lookup_quirk(spark):
    """Signature is lowercase but the cell lookup is exact-case
    (crif_parser.py:33-44): uppercase columns match the signature yet
    yield defaults."""
    t = _mk_table(["NUMBER OF ACCOUNTS", "ACTIVE ACCOUNTS"], [["7", "3"]], 0)
    got = _eval_tables(spark, X.doc_summary("tables"), [t])
    assert got["total_accounts"] == 0 and got["active_accounts"] == 0
    exp = S.account_summary([t])
    assert exp["total_accounts"] == 0 and exp["active_accounts"] == 0

    t2 = _mk_table(["Number of Accounts", "Active Accounts"], [["7", "3"]], 0)
    got2 = _eval_tables(spark, X.doc_summary("tables"), [t2])
    assert got2["total_accounts"] == 7 and got2["active_accounts"] == 3


def test_inquiry_table_row_count_vs_cell(spark):
    t_rows = _mk_table(["Enquiry Purpose", "Date"],
                       [["PL", "x"], ["AL", "y"]], 0)
    t_cell = _mk_table(["Number of Enquiries", "W"], [["11", "24m"]], 0)
    assert _eval_tables(spark, X.doc_inquiries("tables"), [t_rows]) == 2
    assert _eval_tables(spark, X.doc_inquiries("tables"), [t_cell]) == 11
    assert _eval_tables(spark, X.doc_inquiries("tables"), []) == 0
    assert S.credit_inquiries([t_rows]) == 2
    assert S.credit_inquiries([t_cell]) == 11


def test_gstr_weak_signature_and_column_fallback(spark):
    weak = _mk_table(["Particulars", "Amount"],
                     [["3.1 Outward taxable supplies", "₹1,000.50"]], 0, page=7)
    tbl = _eval_tables(spark, X.gstr_first_table("tables"), [weak])
    assert tbl is not None
    idx = _eval_tables(
        spark, f"({X.gstr_taxable_idx(X.gstr_first_table('tables'))})", [weak])
    assert idx == 1  # no 'taxable value' column → index 1 (gstr.py:115-116)
    exp = S.gstr_sales([weak])
    assert exp == {"value": 1000.50, "source": "GSTR-3B Table 3.1 (Page 7)",
                   "confidence": 1.0, "page": 7}


# --- chunker + boilerplate (parse stage) ------------------------------------

def test_chunker_reference_semantics():
    spans = [
        {"kind": "text", "text": "preamble", "media_ref": "", "offset": 0},
        {"kind": "heading", "text": "Account Information 1", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "Account Type: PL", "media_ref": "", "offset": 2},
        {"kind": "heading", "text": "Empty Section", "media_ref": "", "offset": 3},
        {"kind": "heading", "text": "Next", "media_ref": "", "offset": 4},
        {"kind": "text", "text": "body", "media_ref": "", "offset": 5},
    ]
    chunks = S.build_chunks(spans)
    # 'Start' preamble chunk, Account chunk, the '# Empty Section' chunk
    # (its text is the heading line → non-blank, parser.py:112 keeps it),
    # and 'Next'
    assert [c["header"] for c in chunks] == [
        "Start", "Account Information 1", "Empty Section", "Next"]
    assert chunks[1]["text"] == "# Account Information 1\nAccount Type: PL\n"


def test_link_density_boilerplate():
    linky = " ".join(f"[w](u{i})" for i in range(3))
    assert S.is_boilerplate("text", linky)
    assert not S.is_boilerplate("text", "plain paragraph with words " * 3)
    assert S.is_boilerplate("nav", "anything")
    assert not S.is_boilerplate("heading", "anything")
