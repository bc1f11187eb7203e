"""Focused differential tests for the full parse (`parse_documents`:
JVM clean spans plus the one build UDF): every output column must equal
the Python twin (`oracle.parse_document` plus `semantics.doc_kind`, the
same semantics functions the fused stage runs) value-for-value —
including the edge cases the SQL clean-spans expression had to
reproduce deliberately (stable offset sort, CPython whitespace
semantics) and those of the build (`strip('# ')` headers, blank table
header lines, empty spans).  The relational engine reads its text,
tables and chunks from this parse (`test_sql_engine_reads_any_full_parse`)."""

import pytest

from crego_document_extractor_spark import corpus, oracle, parse, semantics


def _py_rows(docs):
    return {d["doc_id"]: dict(oracle.parse_document(d),
                              doc_kind=semantics.doc_kind(d["doc_id"]),
                              n_spans=len(d["spans"]))
            for d in docs}


def _spark_rows(spark, docs):
    sdf = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs],
                                parse.DOCUMENTS_SCHEMA)
    return {r["doc_id"]: r for r in parse.parse_documents(sdf).collect()}


def _assert_equal(got, exp):
    assert set(got) == set(exp)
    for did, e in exp.items():
        g = got[did]
        assert g["doc_kind"] == e["doc_kind"], did
        assert g["n_spans"] == e["n_spans"], did
        g_clean = [{"kind": s["kind"], "text": s["text"],
                    "media_ref": s["media_ref"], "offset": s["offset"]}
                   for s in g["clean_spans"]]
        assert g_clean == e["clean_spans"], did
        assert g["text"] == e["text"], did
        g_tables = [{"id": t["id"], "page": t["page"],
                     "columns": list(t["columns"]),
                     "rows": [list(r) for r in t["rows"]],
                     "raw": t["raw"]} for t in g["tables"]]
        assert g_tables == e["tables"], did
        g_chunks = [{"chunk_idx": c["chunk_idx"], "header": c["header"],
                     "text": c["text"]} for c in g["chunks"]]
        assert g_chunks == e["chunks"], did


def test_jvm_parse_matches_python_on_generated_corpus(spark):
    """300 generator docs incl. the heavy-tail class (big_doc_every)."""
    docs = list(corpus.gen_documents(300, seed=23, big_doc_every=29))
    _assert_equal(_spark_rows(spark, docs), _py_rows(docs))


def _sp(kind, text="", media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref,
            "offset": offset}


EDGE_DOCS = [
    # empty spans array
    {"doc_id": "html-e0", "spans": []},
    # duplicate offsets: Python sorted() is stable — the SQL comparator
    # sort must reproduce input order on ties (index tag)
    {"doc_id": "html-e1", "spans": [
        _sp("text", "b-second", offset=1), _sp("text", "a-first", offset=1),
        _sp("heading", "H", offset=0)]},
    # link-density boilerplate with a unicode NBSP separating words:
    # CPython str.split() treats \xa0 as whitespace, regex \s does not
    # — 2 links, 3 words -> words < links*6 -> stripped (both engines)
    {"doc_id": "html-e2", "spans": [
        _sp("text", "[a](x)\xa0[b](y)\xa0c", offset=0),
        _sp("text", "keep me", offset=1)]},
    # heading made only of '#' and spaces: header strip('# ') -> ''
    {"doc_id": "crif-e3", "spans": [
        _sp("heading", "# #", offset=0), _sp("text", "body", offset=1)]},
    # table whose first line is blank -> ([], []) but the table row
    # itself survives with empty columns/rows
    {"doc_id": "crif-e4", "spans": [
        _sp("table", "\nA | B\n1 | 2", media_ref="page:7", offset=0)]},
    # ragged rows: pad and truncate to the column count; cells with
    # surrounding unicode whitespace are python-stripped
    {"doc_id": "crif-e5", "spans": [
        _sp("table", "C1 | C2 | C3\n x  | y\na|b|c|d|e",
            media_ref="not-a-page", offset=0)]},
    # text before any heading -> 'Start' chunk; heading then nothing
    # -> heading-only chunk ('# H\n'.strip() is '#', non-blank)
    {"doc_id": "gstr-e6", "spans": [
        _sp("text", "preamble", offset=0), _sp("heading", "H", offset=1)]},
    # consecutive headings; empty heading text
    {"doc_id": "crif-e7", "spans": [
        _sp("heading", "A", offset=0), _sp("heading", "", offset=1),
        _sp("text", "tail", offset=2)]},
    # whitespace-only text spans: chunk flushing keys on python-strip
    {"doc_id": "html-e8", "spans": [
        _sp("heading", "W", offset=0), _sp("text", " 　 ", offset=1)]},
    # unknown span kind: dropped by render/chunks, kept by clean_spans
    {"doc_id": "other-e9", "spans": [
        _sp("blob", "xx", offset=0), _sp("text", "yy", offset=1)]},
    # media ref page parse: anchored match only
    {"doc_id": "crif-e10", "spans": [
        _sp("table", "A\n1", media_ref="xpage:3", offset=0),
        _sp("table", "A\n1", media_ref="page:12", offset=1)]},
]


def test_jvm_parse_matches_python_on_edge_docs(spark):
    _assert_equal(_spark_rows(spark, EDGE_DOCS), _py_rows(EDGE_DOCS))


def test_sql_engine_reads_any_full_parse(spark):
    """extract_all(engine='sql') reads text, tables and chunks straight
    from the full parse: an untouched parse and a filtered one each
    execute with exactly one Python stage (one ArrowEvalPython, the
    build UDF evaluated once; no MapInPandas) and give identical result
    rows.  A fused parse has no text, tables or chunks: it is refused."""
    from crego_document_extractor_spark.extract.crif import extract_all

    docs = list(corpus.gen_documents(40, seed=5))
    sdf = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs],
                                parse.DOCUMENTS_SCHEMA)
    rows = []
    for parsed in (parse.parse_documents(sdf),
                   parse.parse_documents(sdf).where("doc_id IS NOT NULL")):
        out = extract_all(parsed, engine="sql")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "MapInPandas" not in plan, plan
        rows.append(sorted(map(tuple, out.collect())))
    assert rows[0] and rows[0] == rows[1]
    with pytest.raises(ValueError):
        extract_all(parse.parse_documents(sdf, fuse_retrieval=True),
                    engine="sql")


@pytest.mark.parametrize("n_parts", [1, 7])
def test_jvm_parse_partition_invariant(spark, n_parts):
    docs = list(corpus.gen_documents(60, seed=9))
    sdf = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs],
                                parse.DOCUMENTS_SCHEMA).repartition(n_parts)
    _assert_equal({r["doc_id"]: r
                   for r in parse.parse_documents(sdf).collect()},
                  _py_rows(docs))


def test_ws_class_is_python_whitespace(spark):
    """``sqlexpr.WS``, the Java-regex class the SQL forms of Python's
    ``str.split()``/``strip()`` use, matches exactly the code points
    CPython's ``str.isspace()`` does, over the whole BMP (a lone
    surrogate reaches the JVM as '?')."""
    from crego_document_extractor_spark.extract.sqlexpr import WS

    rows = spark.range(0x10000).selectExpr(
        "cast(id AS int) AS c",
        "format_string('%c', cast(id AS int)) AS ch",
    ).selectExpr("c", "ch", f"ch rlike '^' || '{WS}' || '$' AS ws").collect()
    assert len(rows) == 0x10000
    for c, ch, ws in rows:
        assert ch == ("?" if 0xD800 <= c <= 0xDFFF else chr(c)), c
        assert ws == chr(c).isspace(), c


def test_retrieval_split_is_embed_tokens(spark):
    """The relational engine's retrieval tokenizer
    (``retrieval_sql.TOKENS``, its empty pieces dropped, as they add
    sign 0) gives ``semantics.embed``'s tokens
    (``re.findall('[a-z0-9]+', s.lower())``) for 'a' + c + 'b', for
    every BMP code point c outside the surrogates.  Spark's ``lower``
    and CPython's differ on a few newer code points, none of which
    lowercases into [a-z0-9]."""
    from crego_document_extractor_spark.extract.retrieval_sql import TOKENS

    toks = TOKENS.format(s="'a' || format_string('%c', c) || 'b'")
    rows = (spark.range(0x10000).where("id < 55296 OR id > 57343")
            .selectExpr("cast(id AS int) AS c")
            .selectExpr("c", f"filter({toks}, t -> t != '') AS toks")
            .collect())
    assert len(rows) == 0x10000 - 0x800
    for c, got in rows:
        assert list(got) == semantics._TOKEN_RE.findall(
            ("a" + chr(c) + "b").lower()), c
