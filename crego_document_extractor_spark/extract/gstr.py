"""GSTR-3B extraction (reference gstr.py:11-155) — pure Spark SQL.

Emits two rows per document: ``gst_sales`` (Table-3.1 taxable value)
and ``gst_month`` (filing period), sharing source/confidence/status
like the reference's single sales record (gstr.py:31-37).

``with_gstr_columns`` / ``gstr_results`` are split so the
relational engine (crif.extract_all) can compute the primitive g_*
columns BEFORE its account aggregation and build the result structs
after it; the fused parse builds the same primitives in Python from
the oracle's own ``semantics.gstr_sales`` and ``gstr_month``
(parse._fused_row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import sqlexpr as X

#: primitive gstr columns that survive the account aggregation
#: (g_month rides as a group key — it is a string)
GSTR_CARRY = ["g_sales", "g_found", "g_page"]
GSTR_KEYS = ["g_month"]


def with_gstr_columns(df: DataFrame) -> DataFrame:
    """Add g_month / g_found / g_page / g_sales primitives
    (gstr.py:39-155): first signature table → taxable column locator →
    '(a)' sales row → currency clean."""
    df = (
        df.withColumn("g_month", F.expr(X.gstr_month("text")))
        .withColumn("g_tbl", F.expr(X.gstr_first_table()))
        .withColumn("g_row", F.expr(
            f"CASE WHEN g_tbl IS NOT NULL THEN {X.gstr_sales_row('g_tbl')} END"))
        .withColumn("g_idx", F.expr(
            f"CASE WHEN g_tbl IS NOT NULL THEN {X.gstr_taxable_idx('g_tbl')} END"))
        .withColumn("g_found", F.expr("g_tbl IS NOT NULL AND g_row IS NOT NULL"))
        .withColumn("g_page", F.expr("g_tbl.page"))
        .withColumn(
            "g_sales",
            F.expr(f"CASE WHEN g_found THEN "
                   f"{X.clean_currency('try_element_at(g_row, cast(g_idx + 1 AS int))')} END"))
    )
    return df.drop("g_tbl", "g_row", "g_idx")


def gstr_results() -> list[str]:
    """The two result structs over the carried g_* columns — SQL
    expressions matching crif.RESULT_FIELDS."""
    source = ("(CASE WHEN g_found THEN concat('GSTR-3B Table 3.1 (Page ', "
              "cast(g_page AS string), ')') "
              "ELSE 'GSTR-3B Table 3.1 not found' END)")
    conf = "(CASE WHEN g_found THEN 1.0d ELSE 0.0d END)"
    status = "(CASE WHEN g_found THEN 'extracted' ELSE 'not_found' END)"
    return [
        "named_struct("
        "  'param_id', 'gst_sales', "
        "  'value_num', g_sales, "
        "  'value_bool', CAST(NULL AS boolean), "
        "  'value_str', CAST(NULL AS string), "
        "  'value_type', CASE WHEN g_sales IS NULL THEN 'null' ELSE 'float' END, "
        f"  'source', {source}, 'confidence', {conf}, 'status', {status}, "
        "  'similarity_score', CAST(NULL AS double))",
        "named_struct("
        "  'param_id', 'gst_month', "
        "  'value_num', CAST(NULL AS double), "
        "  'value_bool', CAST(NULL AS boolean), "
        "  'value_str', g_month, "
        "  'value_type', 'string', "
        f"  'source', {source}, 'confidence', {conf}, 'status', {status}, "
        "  'similarity_score', CAST(NULL AS double))",
    ]
