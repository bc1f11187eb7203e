"""crego_document_extractor_spark — a from-scratch, PySpark-native
re-implementation of the query/data-processing capabilities of
SwastikGoomber/crego-document_extractor (reference, read-only at
/root/reference).

The engine operates on Iceberg-style tables of interleaved text+media
documents::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

and emits, per document, (a) the boilerplate-stripped ordered span
sequence (the correctness invariant: span-sequence equality
``(kind, text, media_ref, order)`` vs the pure-Python oracle that
mirrors the reference semantics), and (b) the reference's typed
extraction parameters ``(value, source, confidence, status,
similarity_score)`` — see ``app/main.py:45-83`` and
``app/utils/output_formatter.py:12-43`` in the reference.

Design: DataFrame/SQL-first around ONE Python stage.  The shipped
extraction (``pipeline.extract_from_raw``) is a single Arrow-batched
``mapInPandas`` stage — parse (mirroring ``app/services/parser.py``),
deterministic embedding retrieval (replacing the reference's Ollama
HTTP calls, ``app/services/embeddings.py:25-51``), account parsing and
the per-parameter values — followed by a codegen projection that
builds the typed result rows, shuffle-free per document.  The full
parse is JVM clean spans plus one build UDF for text, tables and
chunks (pruned when only the clean spans are read), and an independent
relational engine computes the same results from it with JVM-side
retrieval and account aggregation; it is the cross-check, reached only
by calling ``extract_all(parse_documents(docs), engine="sql")``.
"""

__version__ = "0.1.0"
