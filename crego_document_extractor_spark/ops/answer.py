"""Deterministic extractive RAG fallback — no LLM, no external calls.

The reference's last-resort path (crif.py:448-538
``_extract_with_llm_and_rag``): when the embedding-guided programmatic
extraction finds a best chunk but no value, and RAG is enabled
(``ENABLE_RAG``, config.py:67 — default False), it prompts an LLM with
the RAG context + the chunk's first 2000 chars and type-coerces the
reply (confidence 0.6 × the similarity-boost ladder, status
extracted / not_found).

This module replaces the ``llm.generate`` free-text step with a
DETERMINISTIC extractive answerer built from the engine's own
retrieval ops: the chunk is sentence-split, each sentence scored with
the shared hash-embedding cosine against the parameter query
(semantics.embed — the same scorer the chunk retrieval uses), and the
best sentence yields the first token coercible to the spec's expected
type.  Everything downstream of the answer string — the NOT_FOUND
sentinel, the int/float/bool coercion rules (crif.py:503-530), the
0.6 confidence and boost multiply — mirrors the reference exactly.

Off by default like the reference (``ENABLE_RAG=False``): it runs
only where a caller calls ``with_rag_fallback``.  No entry point or
environment variable turns it on, so ``pipeline.run`` returns the
same rows as every other entry point.  The queries, candidates and
retrieval are the fused stage's (``semantics.QUERY_MAT``,
``semantics.candidate_pool``, ``retrieval.retrieve_rows``).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import semantics as S
from ..extract.retrieval import retrieve_rows
from ..specs import PARAM_ORDER, PARAMETER_SPECS, SPEC_BY_ID

NOT_FOUND = "NOT_FOUND"

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+|\n+| \| ")
_NUM = re.compile(r"-?\d[\d,]*(?:\.\d+)?")
_BOOL_TRUE = re.compile(r"\b(yes|true|present|exists)\b", re.I)
_BOOL_FALSE = re.compile(r"\b(no|false|none|absent)\b", re.I)


def best_sentence(query_vec: np.ndarray, text: str,
                  etype: str | None = None) -> str | None:
    """Highest-cosine sentence of `text` vs the parameter query — the
    extractive stand-in for the LLM's reading of the document section.
    Only TYPE-COMPATIBLE sentences compete (one containing a number
    for int/float, a yes/no marker for bool — a sentence that cannot
    yield the expected type cannot be the answer).  Ties break to the
    earliest sentence (document order)."""
    sentences = [s.strip() for s in _SENT_SPLIT.split(text) if s.strip()]
    if etype in ("int", "float"):
        sentences = [s for s in sentences if _NUM.search(s)]
    elif etype == "bool":
        sentences = [s for s in sentences
                     if _BOOL_TRUE.search(s) or _BOOL_FALSE.search(s)]
    if not sentences:
        return None
    best, best_score = None, -2.0
    for s in sentences:
        score = S.cosine(S.embed(s), query_vec)
        if score > best_score:
            best, best_score = s, score
    return best


def extractive_answer(param_id: str, chunk_text: str) -> str:
    """Deterministic twin of llm.generate for the extraction prompt
    (crif.py:459-476): returns the value string, or NOT_FOUND.  The
    prompt truncates the section to 2000 chars — so do we."""
    etype = SPEC_BY_ID[param_id].get("expected_type")
    sent = best_sentence(S.QUERY_MAT[PARAM_ORDER.index(param_id)],
                         (chunk_text or "")[:2000], etype)
    if sent is None:
        return NOT_FOUND
    if etype in ("int", "float"):
        m = _NUM.search(sent)
        return m.group() if m else NOT_FOUND
    if etype == "bool":
        if _BOOL_TRUE.search(sent):
            return "true"
        if _BOOL_FALSE.search(sent):
            return "false"
        return NOT_FOUND
    return sent


def coerce(value: str, etype: str):
    """crif.py:503-530 — the reference's type-coercion of the LLM
    reply: int via int(float(x)) after stripping ',' and ' ', float
    likewise, bool via the lowercase truthy set; coercion failure
    keeps the string (reference logs and keeps it)."""
    try:
        if etype == "int":
            return int(float(value.replace(",", "").replace(" ", ""))), None, None
        if etype == "float":
            return float(value.replace(",", "").replace(" ", "")), None, None
        if etype == "bool":
            return None, value.lower() in ("true", "yes", "1", "y"), None
    except (ValueError, AttributeError):
        pass
    return None, None, value


_FB_SCHEMA = ("doc_id string, param_id string, fb_num double, "
              "fb_bool boolean, fb_str string, fb_type string, "
              "score double")
_FB_COLUMNS = [c.split()[0] for c in _FB_SCHEMA.split(", ")]


def _answer_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per document with an eligible miss: build tables and chunks from
    the clean spans and retrieve exactly as the fused stage does, then
    answer each missed parameter that has a best chunk from that
    chunk's full text; only found answers are emitted."""
    for pdf in batches:
        rows = []
        for doc_id, kind, cs, miss in zip(
                pdf["doc_id"], pdf["doc_kind"], pdf["clean_spans"],
                pdf["miss"]):
            miss = set(miss)
            tables, chunks = S.build_tables(cs), S.build_chunks(cs)
            content = {("table", t["id"]): t["raw"] for t in tables}
            content.update({("text", c["chunk_idx"]): c["text"]
                            for c in chunks})
            pool = (S.candidate_pool(tables, chunks)
                    if kind == "crif" else [])
            for r in retrieve_rows(pool):
                pid = r["param_id"]
                if r["score"] is None or pid not in miss:
                    continue
                ans = extractive_answer(
                    pid, content.get((r["ctype"], r["ref_idx"])))
                if ans == NOT_FOUND:
                    continue
                etype = SPEC_BY_ID[pid].get("expected_type")
                num, b, s = coerce(ans, etype)
                # the retrieval score rides through the answer stage,
                # so the patch needs no second retrieval
                rows.append((doc_id, pid,
                             None if num is None else float(num), b, s,
                             "str" if s is not None else (etype or "str"),
                             r["score"]))
        yield pd.DataFrame(rows, columns=_FB_COLUMNS)


def with_rag_fallback(results: DataFrame, parsed: DataFrame) -> DataFrame:
    """Patch `results` rows whose programmatic extraction found a
    chunk but NO value (crif.py:190-206 eligibility: best chunk
    exists, value is None) with the deterministic extractive answer:
    value from the chunk's best sentence, confidence
    0.6 × similarity-boost(score), status 'extracted'.  Rows stay
    untouched when the answerer also fails (reference keeps the
    original failed result).  The reference's ENABLE_RAG defaults to
    False (config.py:67); a caller that wants no fallback does not call
    this.

    Plan shape: the eligible slice is typically tiny (a handful of
    (doc, param) misses), so the full parse's clean spans are joined
    to just the docs with a miss, one narrow MapInPandas builds tables
    and chunks, retrieves and answers per document (the parse's build
    UDF is pruned from the plan), and the patch is a left join back to
    `results` — broadcastable whenever the miss set is small."""
    from ..extract import sqlexpr as X

    policy_ids = ", ".join(
        f"'{s['param_id']}'" for s in PARAMETER_SPECS
        if s["category"] == "policy")
    # reference eligibility (crif.py:190-206): value is None AND a
    # best chunk exists (checked per parameter in the answer stage);
    # policy params never reach the fallback (handled before
    # _extract_with_embeddings)
    misses = (results
              .where("value_num IS NULL AND value_bool IS NULL "
                     "AND value_str IS NULL")
              .where(f"param_id NOT IN ({policy_ids})")
              .groupBy("doc_id")
              .agg(F.collect_set("param_id").alias("miss")))
    answers = (parsed.select("doc_id", "doc_kind", "clean_spans")
               .join(misses, "doc_id")
               .mapInPandas(_answer_batches, schema=_FB_SCHEMA))
    patch = (answers
             .select("doc_id", "param_id", "fb_num", "fb_bool", "fb_str",
                     "fb_type",
                     F.expr(f"round(0.6d * {X.boost('score')}, 6)")
                     .alias("fb_conf"),
                     F.col("score").alias("fb_sim")))
    joined = results.join(F.broadcast(patch), ["doc_id", "param_id"], "left")
    patched = ("(fb_num IS NOT NULL OR fb_bool IS NOT NULL OR "
               "fb_str IS NOT NULL)")
    return (joined.select(
        "doc_id", "param_id",
        F.expr(f"CASE WHEN {patched} THEN fb_num ELSE value_num END")
        .alias("value_num"),
        F.expr(f"CASE WHEN {patched} THEN fb_bool ELSE value_bool END")
        .alias("value_bool"),
        F.expr(f"CASE WHEN {patched} THEN fb_str ELSE value_str END")
        .alias("value_str"),
        F.expr(f"CASE WHEN {patched} THEN fb_type ELSE value_type END")
        .alias("value_type"),
        "source",
        F.expr(f"CASE WHEN {patched} THEN fb_conf ELSE confidence END")
        .alias("confidence"),
        F.expr(f"CASE WHEN {patched} THEN 'extracted' ELSE status END")
        .alias("status"),
        F.expr(f"CASE WHEN {patched} THEN fb_sim ELSE similarity_score END")
        .alias("similarity_score")))
