"""Knowledge-base (RAG) retrieval — SURVEY.md §2 S7/T3.

Mirrors the reference's RAG service (rag_service.py, behind the
default-off ENABLE_RAG flag, config.py:67): a markdown knowledge base
is segmented on '## ' / '### ' headers into titled chunks
(rag_service.py:52-115), embedded once, broadcast, and retrieved per
parameter query with cosine top-k (k=2) + 0.5 threshold; the matched
chunks render to the context string of rag_service.py:171-206.

The LLM fallback the context would feed (llm.py) calls external
services and stays out of the deterministic engine — exactly like the
reference's default configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .. import semantics as S


def parse_knowledge_base(content: str) -> list[dict]:
    """rag_service.py:52-115 — split on '## ' (section) and '### '
    (subsection) headers; drop empty chunks."""
    chunks: list[dict] = []
    section = ""
    subsection = ""
    text: list[str] = []

    def flush():
        if text:
            chunks.append({
                "section": section,
                "subsection": subsection,
                "text": "\n".join(text).strip(),
                "title": f"{section} - {subsection}" if subsection else section,
            })
            text.clear()

    for line in content.split("\n"):
        if line.startswith("## "):
            flush()
            section = line.replace("##", "").strip()
            subsection = ""
        elif line.startswith("### "):
            flush()
            subsection = line.replace("###", "").strip()
        else:
            text.append(line)
    flush()
    return [c for c in chunks if c["text"]]


def kb_dataframe(spark: SparkSession, content: str) -> DataFrame:
    """Parsed + embedded knowledge base as a broadcastable dimension."""
    chunks = parse_knowledge_base(content)
    rows = [
        {"kb_id": i, "title": c["title"], "text": c["text"],
         "embedding": [float(x) for x in S.embed(c["text"])]}
        for i, c in enumerate(chunks)
    ]
    return spark.createDataFrame(
        rows, schema="kb_id int, title string, text string, embedding array<double>")


def retrieve_context(queries: DataFrame, kb: DataFrame, top_k: int = 2,
                     threshold: float = 0.5) -> DataFrame:
    """Per query row (query_id, query_text, query_vec) → formatted
    context string (rag_service.py:200-206): broadcast-crossjoin cosine
    scoring, top-k window, threshold filter, 500-char chunk caps."""
    from .similarity import cosine_pre, with_norm

    # per-side norms once before the cross join (r6, as in
    # similarity.brute_force_topk — bit-identical scores)
    q = with_norm(queries, "query_vec", "_qd", "_nq")
    k2 = with_norm(kb, "embedding", "_kd", "_nk")
    scored = (q.crossJoin(F.broadcast(k2))
              .withColumn("sim", F.expr(cosine_pre("_qd", "_kd",
                                                   "_nq", "_nk"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("kb_id"))
    hits = (scored.withColumn("rank", F.row_number().over(w))
            .where((F.col("rank") <= top_k) & (F.col("sim") >= threshold)))
    part = ("concat('\\n[', title, '] (similarity: ', format_number(sim, 2), ')', "
            "'\\n', substring(text, 1, 500))")
    return (hits.groupBy("query_id")
            .agg(F.expr(
                "concat('Domain Knowledge Context:', "
                f"array_join(transform(array_sort(collect_list(named_struct("
                f"'rank', rank, 'part', {part}))), x -> x.part), ''))")
                .alias("context"),
                F.count("*").alias("n_chunks")))
