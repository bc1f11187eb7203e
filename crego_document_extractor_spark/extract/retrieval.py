"""Embedding-guided retrieval (SURVEY.md §2 J2/T1/F13).

The reference scores every candidate chunk against every parameter
query with cosine similarity, sorts desc, takes top-3, filters >= 0.5
and uses the best chunk (embeddings.py:73-136).  Only the argmax and
its score are observable downstream, so ``retrieve_rows`` computes
exactly that for one document's candidate pool: the best (candidate,
score) per parameter.  It is the one Python retrieval form: the fused
parse stage (parse.py) and the opt-in RAG fallback's answer stage
(ops/answer.py) call it per document.  No shuffle, no per-row Python
UDF.  What it computes is defined in :mod:`..semantics`: the query
embeddings (``QUERY_MAT``), the candidates (``candidate_pool``) and
the scoring (``retrieve_best``), which the oracle calls too; this
module only labels the winners.

The embedding itself is the deterministic hashed-feature vector from
:mod:`..semantics` (replacing the reference's Ollama HTTP calls —
sandboxed determinism is what its own consistency test demands,
test_accuracy.py:79-115).  The relational engine (retrieval_sql.py)
is the independent implementation.
"""

from __future__ import annotations

from .. import semantics as S
from ..specs import PARAM_ORDER

#: SQL form of ``semantics.candidate_pool`` over a full parse's
#: tables/chunks: tables first, then text chunks, contents truncated to
#: 1500 chars (crif.py:80-121).  No package code reads it; perfbench's
#: job_lineage replay builds its candidate pools with it.
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


def retrieve_rows(cand_list) -> list[dict]:
    """One document's candidate structs → the per-parameter best-chunk
    rows (the single shared definition — used by the fused parse stage
    and the RAG fallback's answer stage)."""
    cand_vecs = [S.embed(c["content"]) for c in cand_list]
    retrieved = S.retrieve_best(cand_vecs)
    row = []
    for pid, (best_i, score) in zip(PARAM_ORDER, retrieved):
        if best_i is None:
            row.append({"param_id": pid, "ctype": None,
                        "ref_idx": None, "score": None})
        else:
            c = cand_list[best_i]
            row.append({"param_id": pid, "ctype": c["ctype"],
                        "ref_idx": int(c["ref_idx"]), "score": score})
    return row
