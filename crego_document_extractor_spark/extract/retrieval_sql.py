"""JVM-side relational retrieval — removes the last Python stage from
the extraction plan.

The reference scores every candidate chunk against every parameter
query with cosine similarity and keeps the best match per parameter
(embeddings.py:73-136 via crif.py:123-221; candidates are tables then
chunks truncated to 1500 chars, crif.py:80-121).  Round 1/2 ran that as
an Arrow ``pandas_udf`` (retrieval.py) — correct, but the measured
single-JVM scaling ceiling: a *second* chained Python stage doubles the
python workers per task (2 workers + the task thread at local[32]).

This module computes the identical result in pure Spark SQL:

  posexplode(candidate units)                     -- narrow
    -> per-unit scalar columns (codegen regexps)  -- narrow
    -> explode(tokens)                            -- narrow
    -> HashAggregate per (row, unit): 64 sign-sums  (map-side combine)
    -> per-unit cosine scores vs 15 query-vector literals (codegen)
    -> aggregate per row: per-parameter argmax (max_by) + the report
       account aggregates

Bit-exactness vs the numpy oracle (semantics.retrieve_best) holds
because every embedding component is a ± sum of small integers — all
dot products and squared norms are EXACT in float64 in any evaluation
order — and the final ``dot / (qnorm * cnorm)`` is written with the
same operation order as the oracle's ``(q @ m.T) / (qn * cn)``.
Spark's ``crc32`` is the same CRC-32 (IEEE 802.3) as ``zlib.crc32``,
and ``sqrt`` is IEEE-correctly-rounded in both runtimes, so scores —
and therefore ties — match bit-for-bit (pinned end to end by the
relational-vs-oracle tests, tests/test_params.py::test_rows_equal[sql]
and tests/test_paths.py, which compare ``similarity_score`` to 1e-12).

Tie-breaking: ``np.argmax`` keeps the FIRST maximum (embeddings.py:85
stable sort); here the ``max_by`` ordering is the struct
``(score, -unit_index)`` — lexicographic struct comparison picks the
max score and, among equals, the smallest unit index.

Scale shape: the two aggregations exchange only per-unit /per-document
primitive scalars (the wide parse payload is consumed before the first
shuffle); the token-level HashAggregate combines map-side, so a
mega-document costs local CPU, not shuffle skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import sqlexpr as X
from .. import semantics as S
from ..specs import PARAMETER_SPECS

EMBED_DIM = S.EMBED_DIM

#: SQL: the embedding tokens of string expression ``{s}`` — the twin of
#: ``semantics.embed``'s ``re.findall('[a-z0-9]+', s.lower())``: a split
#: on the complement, whose empty pieces contribute sign 0 (pinned over
#: the BMP by tests/test_jvm_parse.py::test_retrieval_split_is_embed_tokens)
TOKENS = "split(lower({s}), '[^a-z0-9]+')"

#: retrieval candidates: tables first, then text chunks, contents
#: truncated to 1500 chars (crif.py:80-121).  `fulltext`/`header` carry
#: the untruncated chunk for the chunk-aware flag path and the account
#: routing (crif.py:388-422, crif_parser.py:7-25).  Non-crif kinds get
#: an empty array -> posexplode_outer keeps one null-unit carrier row.
#: `atext` is the account-chunk routing (crif_parser.py:7-25) resolved
#: at unit-build time: the chunk text when the header marks an account
#: chunk, else NULL.  The account-field regexps downstream are then
#: UNCONDITIONAL expressions over atext — codegen subexpression
#: elimination only hoists subtrees evaluated on every path, so a
#: `CASE WHEN is_acct THEN <regex forest>` gate re-evaluates the
#: shared `lower(strip(payment_status(...)))` chains per CASE branch
#: (measured ~8x the regexp work); NULL-in→NULL-out propagation makes
#: the unconditional form free on non-account units.
_UNITS = (
    "CASE WHEN doc_kind = 'crif' THEN concat("
    "transform(tables, t -> named_struct("
    "'ctype', 'table', 'ref_idx', t.id, "
    f"'content', substring(t.raw, 1, {S.MAX_CHUNK_CHARS}), "
    "'fulltext', CAST(NULL AS string), 'atext', CAST(NULL AS string))), "
    "transform(chunks, c -> named_struct("
    "'ctype', 'text', 'ref_idx', c.chunk_idx, "
    f"'content', substring(c.text, 1, {S.MAX_CHUNK_CHARS}), "
    "'fulltext', c.text, "
    "'atext', CASE WHEN startswith(c.header, 'Account Information') "
    "THEN c.text END))) "
    "ELSE array() END"
)

#: accounts inside ONE text chunk (crif.py:395-401): split on
#: 'Account Number:', parse each sub-block; only account_type validity
#: + remarks are observable through the flag predicates.
_BLOCKS = f"slice(split(u.fulltext, 'Account Number:'), 2, {X.SLICE_REST})"
# the contains() pre-check skips the split+transform+regexp machinery
# on the (majority of) chunks with no account blocks at all — an empty
# slice and a skipped CASE produce the same empty candidate set
_CA = (
    "CASE WHEN u.ctype = 'text' AND contains(u.fulltext, 'Account Number:') THEN "
    f"filter(transform({_BLOCKS}, blk -> named_struct("
    f"'account_type', {X.extract_field('blk', 'Account Type')}, "
    f"'remarks', {X.extract_field('blk', 'Account Remarks')})), "
    "ba -> ba.account_type != '') END"
)


def _score_expr(i: int) -> str:
    """Cosine(candidate, query_i) with the oracle's exact float64
    operation order: dot / (qn * cn); 0.0 when the candidate norm is
    zero (semantics.retrieve_best / embeddings.py:57-71).  The query
    vector (semantics.QUERY_MAT, integer-valued) and its norm become
    literals."""
    q = S.QUERY_MAT[i]
    terms = [f"s_{d} * {int(q[d])}L" for d in range(EMBED_DIM) if q[d] != 0.0]
    dot = " + ".join(terms)
    qn = float(S.QUERY_NORMS[i])
    return (f"(CASE WHEN cn = 0.0d THEN 0.0d "
            f"ELSE cast({dot} AS double) / ({qn!r}d * cn) END)")


def relational_extract_columns(df: DataFrame) -> DataFrame:
    """One row per input row, with every column the result-struct
    builders in crif.py consume:

    * ``bscore_{i}``             best similarity if >= 0.5 else NULL
    * ``cv_{i}`` / ``bt_id_{i}`` winning table's chunk-aware value / id
    * ``nc_{i}`` / ``mc_{i}``    winning chunk's account/matched counts
    * ``n_accounts rep_dpd30/60/90 rep_live_plbl rep_m_*`` report-level
      account aggregates (crif_models.py:47-88) — fused into the same
      aggregation pass
    * the doc-level carries (rep_*, g_*) and doc_id/doc_kind/g_month

    Input must already have _with_tables + with_gstr_columns columns.
    Grouping key is a per-row id (duplicate doc_ids stay independent,
    like the reference's one-request-one-document loop); the id is
    consumed inside this single lineage and never output.
    """
    from .crif import _direct_chunk_value, _SUMMARY_FIELDS
    from .gstr import GSTR_CARRY, GSTR_KEYS

    prim_carry = (["rep_score", "rep_inquiries"]
                  + [f"rep_sum_{f}" for f in _SUMMARY_FIELDS] + GSTR_CARRY)
    str_keys = ["doc_id", "doc_kind"] + GSTR_KEYS
    flag_pids = list(X.FLAG_PREDS)

    df = df.withColumn("_rid", F.monotonically_increasing_id())
    ex = df.select("_rid", *str_keys, *prim_carry, "tables",
                   F.posexplode_outer(F.expr(_UNITS)).alias("uidx", "u"))

    # ---- per-unit scalar columns (narrow; parse payload consumed here)
    ex = ex.withColumn("u_table", F.expr(
        "CASE WHEN u.ctype = 'table' THEN "
        "try_element_at(filter(tables, t -> t.id = u.ref_idx), 1) END"))
    ex = ex.withColumn("ca_u", F.expr(_CA))
    # account fields: UNCONDITIONAL over the nullable u.atext (see the
    # _UNITS comment) — null units short-circuit through every regexp
    af = X.account_fields("u.atext")
    ex = (ex.withColumn("a_type", F.expr(af["account_type"]))
          .withColumn("a_valid", F.expr(
              "coalesce(a_type IS NOT NULL AND a_type != '', false)"))
          .withColumn("a_remarks", F.expr(af["remarks"]))
          .withColumn("a_dpd", F.expr(af["worst_dpd"]))
          .withColumn("a_live", F.expr(
              "coalesce(a_valid AND "
              + X.live_plbl_pred("a_type", af["is_active"]) + ", false)")))
    for pid in flag_pids:
        ex = ex.withColumn(
            f"af_{pid}",
            F.expr("coalesce(a_valid AND "
                   + X.FLAG_PREDS[pid].format(r="a_remarks") + ", false)"))

    unit_cols: dict[str, str] = {
        "is_table": "coalesce(u.ctype = 'table', false)",
        "ref_idx": "u.ref_idx",
        "unc": "CASE WHEN u.ctype = 'text' THEN size(ca_u) ELSE 0 END",
    }
    for pid in flag_pids:
        pred = X.FLAG_PREDS[pid].format(r="ba.remarks")
        unit_cols[f"umc_{pid}"] = (f"CASE WHEN u.ctype = 'text' "
                                   f"THEN size(filter(ca_u, ba -> {pred})) ELSE 0 END")
    direct_idx = [i for i, sp in enumerate(PARAMETER_SPECS)
                  if sp["category"] == "direct"]
    for i in direct_idx:
        pid = PARAMETER_SPECS[i]["param_id"]
        unit_cols[f"ucv_{i}"] = f"cast({_direct_chunk_value(pid, 'u_table')} AS double)"
    # MATERIALIZE the unit scalars (and the carrier-null doc values)
    # BELOW the token explode: exprs listed in the same select as a
    # generator end up in a Project ABOVE the Generate and re-evaluate
    # once per TOKEN row (~30x per unit — measured, the lambda forests
    # made that the dominant cost).  withColumn before the explode pins
    # them to one evaluation per unit row.
    carrier = "(uidx IS NULL OR uidx = 0)"
    for n, e in unit_cols.items():
        ex = ex.withColumn(n, F.expr(e))
    for c in str_keys:
        ex = ex.withColumn(f"{c}_c", F.expr(f"CASE WHEN {carrier} THEN {c} END"))
    for c in prim_carry:
        ex = ex.withColumn(f"{c}__n", F.expr(f"CASE WHEN {carrier} THEN {c} END"))

    acct_cols = ["a_valid", "a_dpd", "a_live"] + [f"af_{pid}" for pid in flag_pids]

    sel = [F.col("_rid"), F.col("uidx")]
    sel += [F.col(f"{c}_c") for c in str_keys]
    sel += [F.col(f"{c}__n").alias(c) for c in prim_carry]
    sel += [F.col(n) for n in unit_cols]
    sel += [F.col(c) for c in acct_cols]
    sel.append(F.explode_outer(
        F.expr(TOKENS.format(s="u.content"))).alias("tok"))
    tk = ex.select(*sel)
    tk = (tk.withColumn("h", F.expr(
              "CASE WHEN tok IS NOT NULL AND tok != '' "
              "THEN crc32(encode(tok, 'utf-8')) END"))
          .withColumn("dim", F.expr(f"cast(h % {EMBED_DIM} AS int)"))
          .withColumn("sgn", F.expr(
              "CASE WHEN h IS NULL THEN 0L "
              "WHEN (h >> 8) % 2 = 1 THEN 1L ELSE -1L END"))
          .drop("tok", "h"))

    # ---- aggregation 1: per (row, unit) — 64 sign-sums, all-primitive
    # buffers => HashAggregate with map-side combine; the strings ride
    # as group keys (non-null only on the carrier unit's rows).
    unit_scalars = list(unit_cols) + acct_cols
    aggs1 = [F.sum(F.expr(f"IF(dim = {d}, sgn, 0L)")).alias(f"s_{d}")
             for d in range(EMBED_DIM)]
    aggs1 += [F.max(c).alias(c) for c in prim_carry + unit_scalars]
    g1 = tk.groupBy("_rid", "uidx", *[f"{c}_c" for c in str_keys]).agg(*aggs1)

    # ---- per-unit scores vs the 15 query literals (codegen projection)
    norm2 = " + ".join(f"s_{d} * s_{d}" for d in range(EMBED_DIM))
    g1 = g1.withColumn("cn", F.expr(f"sqrt(cast({norm2} AS double))"))
    scored_idx = [i for i, sp in enumerate(PARAMETER_SPECS)
                  if sp["category"] != "policy"]
    for i in scored_idx:
        g1 = g1.withColumn(f"score_{i}", F.expr(_score_expr(i)))
    g1 = g1.drop(*[f"s_{d}" for d in range(EMBED_DIM)], "cn")

    # ---- aggregation 2: per row — argmax per parameter + account aggs.
    # max_by's struct ordering makes this SortAggregate; its input is
    # units-per-document (tiny groups), so sort-based is fine at any
    # scale.  Ordering (score, -uidx) == np.argmax first-max tie-break.
    negu = "CASE WHEN uidx IS NULL THEN 0 ELSE -uidx END"
    aggs2 = [F.first(f"{c}_c", ignorenulls=True).alias(c) for c in str_keys]
    aggs2 += [F.first(c, ignorenulls=True).alias(c) for c in prim_carry]
    for i, spec in enumerate(PARAMETER_SPECS):
        pid, cat = spec["param_id"], spec["category"]
        if cat == "policy":
            continue
        if cat == "direct":
            aggs2.append(F.expr(
                f"max_by(named_struct('score', score_{i}, 'is_table', is_table, "
                f"'ref_idx', ref_idx, 'cv', ucv_{i}), "
                f"named_struct('s', score_{i}, 'u', {negu}))").alias(f"w_{i}"))
        elif cat == "flag" and pid in X.FLAG_PREDS:
            aggs2.append(F.expr(
                f"max_by(named_struct('score', score_{i}, 'nc', unc, "
                f"'mc', umc_{pid}), "
                f"named_struct('s', score_{i}, 'u', {negu}))").alias(f"w_{i}"))
        else:  # derived + ntc: only the best score is observable
            aggs2.append(F.max(f"score_{i}").alias(f"bs_{i}"))
    aggs2 += [
        F.expr("count_if(a_valid)").cast("int").alias("n_accounts"),
        F.expr("count_if(a_valid AND a_dpd >= 30)").cast("int").alias("rep_dpd30"),
        F.expr("count_if(a_valid AND a_dpd >= 60)").cast("int").alias("rep_dpd60"),
        F.expr("count_if(a_valid AND a_dpd >= 90)").cast("int").alias("rep_dpd90"),
        F.expr("coalesce(max(a_live), false)").alias("rep_live_plbl"),
    ]
    aggs2 += [F.expr(f"count_if(af_{pid})").cast("int").alias(f"rep_m_{pid}")
              for pid in flag_pids]
    g2 = g1.groupBy("_rid").agg(*aggs2).drop("_rid")

    # ---- the columns the result-struct builders expect
    thr = f"{S.SIMILARITY_THRESHOLD!r}d"
    for i, spec in enumerate(PARAMETER_SPECS):
        pid, cat = spec["param_id"], spec["category"]
        if cat == "policy":
            continue
        if cat == "direct" or (cat == "flag" and pid in X.FLAG_PREDS):
            g2 = g2.withColumn(
                f"bscore_{i}",
                F.expr(f"CASE WHEN w_{i}.score >= {thr} THEN w_{i}.score END"))
        else:
            g2 = g2.withColumn(
                f"bscore_{i}",
                F.expr(f"CASE WHEN bs_{i} >= {thr} THEN bs_{i} END"))
        if cat == "direct":
            g2 = (g2.withColumn(f"cv_{i}", F.expr(
                      f"CASE WHEN bscore_{i} IS NOT NULL AND w_{i}.is_table "
                      f"THEN w_{i}.cv END"))
                  .withColumn(f"bt_id_{i}", F.expr(f"w_{i}.ref_idx")))
        elif cat == "flag" and pid in X.FLAG_PREDS:
            g2 = (g2.withColumn(f"nc_{i}", F.expr(
                      f"CASE WHEN bscore_{i} IS NOT NULL "
                      f"THEN coalesce(w_{i}.nc, 0) ELSE 0 END"))
                  .withColumn(f"mc_{i}", F.expr(
                      f"CASE WHEN bscore_{i} IS NOT NULL "
                      f"THEN coalesce(w_{i}.mc, 0) ELSE 0 END")))
    drop = [f"w_{i}" for i, sp in enumerate(PARAMETER_SPECS)
            if sp["category"] == "direct"
            or (sp["category"] == "flag" and sp["param_id"] in X.FLAG_PREDS)]
    drop += [f"bs_{i}" for i, sp in enumerate(PARAMETER_SPECS)
             if sp["category"] in ("derived", "flag")
             and not (sp["category"] == "flag" and sp["param_id"] in X.FLAG_PREDS)]
    return g2.drop(*drop)
