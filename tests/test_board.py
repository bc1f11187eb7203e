"""The table-free VALUES queries of ``__spark_entry__.queries()``
against their DuckDB ``oracle_sql()``, compared as
``scripts/check_entry.py`` compares every query (column names, then
order-insensitive values through its ``canon``)."""

import pytest

duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as E  # noqa: E402
from scripts.check_entry import canon  # noqa: E402

#: the queries that read no table: each runs over its own VALUES
VALUES_QUERIES = [
    "q_f3_clean_number_inline", "q_f10_month_extract_inline",
    "q_a1_dpd_decode_inline", "q_a11_boost_ladder_inline",
    "q_a12_nullsafe_accuracy", "q_a5_active_loans_by_type_inline",
    "q_f5_a6_summary_first_match", "q_f6_t4_score_scan",
    "q_f7_a7_inquiry_count", "q_f8_f9_gstr_locator",
    "q_j3_coalesce_fallback", "q_p5_account_parse", "q_a4_live_plbl_inline",
]


@pytest.mark.parametrize("name", VALUES_QUERIES)
def test_values_query_matches_oracle(spark, name):
    df = E.queries()[name](spark, None)
    cols = [c.lower() for c in df.columns]
    con = duckdb.connect()
    res = con.sql(E.oracle_sql()[name])
    exp_cols = [c.lower() for c in res.columns]
    assert sorted(cols) == sorted(exp_cols)
    assert canon([tuple(r) for r in df.collect()], cols) == canon(
        res.fetchall(), exp_cols)
