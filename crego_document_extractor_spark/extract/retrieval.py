"""Embedding-guided retrieval (SURVEY.md §2 J2/T1/F13).

The reference scores every candidate chunk against every parameter
query with cosine similarity, sorts desc, takes top-3, filters >= 0.5
and uses the best chunk (embeddings.py:73-136).  Only the argmax and
its score are observable downstream, so ``retrieve_rows`` computes
exactly that for one document's candidate pool: the best (candidate,
score) per parameter.  The fused parse stage (parse.py) calls it per
document; the ``best_chunks`` pandas_udf wraps it for the opt-in RAG
fallback.  No shuffle, no per-row Python UDF.

The embedding itself is the deterministic hashed-feature vector from
:mod:`..semantics` (replacing the reference's Ollama HTTP calls —
sandboxed determinism is what its own consistency test demands,
test_accuracy.py:79-115).  This code shares the exact scoring with
the oracle, so retrieval parity is by construction; the relational
engine (retrieval_sql.py) is the independent implementation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import semantics as S
from ..specs import PARAMETER_SPECS, query_text

#: JVM-side candidate pool: tables first, then text chunks, contents
#: truncated to 1500 chars (crif.py:80-121)
CANDIDATES_EXPR = (
    "concat("
    "transform(tables, t -> named_struct("
    "  'ctype', 'table', 'ref_idx', t.id, "
    f"  'content', substring(t.raw, 1, {S.MAX_CHUNK_CHARS}))), "
    "transform(chunks, c -> named_struct("
    "  'ctype', 'text', 'ref_idx', c.chunk_idx, "
    f"  'content', substring(c.text, 1, {S.MAX_CHUNK_CHARS})))"
    ")"
)

RETR_TYPE = T.ArrayType(T.StructType([
    T.StructField("param_id", T.StringType()),
    T.StructField("ctype", T.StringType()),
    T.StructField("ref_idx", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
]))

_PARAM_IDS = [spec["param_id"] for spec in PARAMETER_SPECS]
_QUERY_MAT = np.stack([S.embed(query_text(spec)) for spec in PARAMETER_SPECS])
#: constant per process — recomputing it per document inside
#: retrieve_best was pure overhead (r6)
_QUERY_NORMS = np.linalg.norm(_QUERY_MAT, axis=1)


def retrieve_rows(cand_list) -> list[dict]:
    """One document's candidate structs → the per-parameter best-chunk
    rows (the single shared definition — used by the fused
    parse+retrieval MapInPandas stage AND the `best_chunks` pandas_udf
    of the RAG fallback)."""
    cand_vecs = [S.embed(c["content"]) for c in cand_list]
    retrieved = S.retrieve_best(_QUERY_MAT, cand_vecs, _QUERY_NORMS)
    row = []
    for pid, (best_i, score) in zip(_PARAM_IDS, retrieved):
        if best_i is None:
            row.append({"param_id": pid, "ctype": None,
                        "ref_idx": None, "score": None})
        else:
            c = cand_list[best_i]
            row.append({"param_id": pid, "ctype": c["ctype"],
                        "ref_idx": int(c["ref_idx"]), "score": score})
    return row


def candidate_pool(doc_kind: str, tables, chunks) -> list[dict]:
    """Python twin of CANDIDATES_EXPR (tables first, then text chunks,
    contents truncated to MAX_CHUNK_CHARS; non-crif kinds → empty) for
    the fused parse+retrieval stage."""
    if doc_kind != "crif":
        return []
    pool = [{"ctype": "table", "ref_idx": t["id"],
             "content": (t["raw"] or "")[:S.MAX_CHUNK_CHARS]}
            for t in tables]
    pool += [{"ctype": "text", "ref_idx": c["chunk_idx"],
              "content": (c["text"] or "")[:S.MAX_CHUNK_CHARS]}
             for c in chunks]
    return pool


@F.pandas_udf(RETR_TYPE)
def _best_chunks_udf(cands: pd.Series) -> pd.Series:
    return pd.Series([retrieve_rows(cand_list) for cand_list in cands])


#: marked non-deterministic (guide §4.4): the optimizer must neither
#: duplicate this expensive UDF nor inline it into operators that
#: cannot evaluate Python (with the r6 JVM parse, CollapseProject
#: folded the whole candidate expression INTO the consumer's
#: Generate/explode, where a PythonUDF is unevaluable —
#: INTERNAL_ERROR at runtime).  The function is in fact pure; the
#: marker only constrains optimizer movement.
best_chunks = _best_chunks_udf.asNondeterministic()


def with_retrieval(parsed_df):
    """Add the per-parameter best-chunk column ``retr`` to a full
    parse (zero-shuffle) — the candidate lookup of the opt-in RAG
    fallback (ops/answer.py).

    Kind-aware: only crif documents have retrieval candidates
    (crif.py:80-121); other kinds ship an empty candidate list into the
    UDF (near-free)."""
    cands = f"CASE WHEN doc_kind = 'crif' THEN {CANDIDATES_EXPR} ELSE array() END"
    return parsed_df.withColumn("retr", best_chunks(F.expr(cands)))
