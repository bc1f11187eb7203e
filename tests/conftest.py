import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crego_document_extractor_spark import corpus, oracle, pipeline  # noqa: E402
from crego_document_extractor_spark.session import get_spark  # noqa: E402

N_DOCS = 200
SEED = 42
BIG_EVERY = 61  # a few heavy-tailed docs inside the 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def raw_docs():
    return list(corpus.gen_documents(N_DOCS, seed=SEED, big_doc_every=BIG_EVERY))


@pytest.fixture(scope="session")
def docs_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "documents.parquet"
    corpus.write_corpus(str(p), N_DOCS, seed=SEED, big_doc_every=BIG_EVERY)
    return str(p)


@pytest.fixture(scope="session")
def expected(raw_docs):
    return [oracle.extract_document(d) for d in raw_docs]


@pytest.fixture(scope="session")
def expected_spans(expected):
    return {e["doc_id"]: e["clean_spans"] for e in expected}


@pytest.fixture(scope="session")
def expected_rows(expected):
    out = {}
    for e in expected:
        for r in e["results"]:
            out[(r["doc_id"], r["param_id"])] = r
    return out


def _relational(docs):
    from crego_document_extractor_spark.extract.crif import extract_all
    return extract_all(pipeline.parse_documents(docs), engine="sql")


#: the two result forms: the shipped fused plan and the independent
#: relational cross-check
FORMS = {"fused": pipeline.extract_from_raw, "relational": _relational}
#: each form's ``extract_all`` engine name, the pipeline_outputs test id
ENGINES = {"fused": "udf", "relational": "sql"}


@pytest.fixture(scope="session", params=sorted(FORMS), ids=ENGINES.get)
def pipeline_outputs(spark, docs_path, request):
    """Results of BOTH forms, so every downstream parity test asserts
    oracle equality for each; the spans come from the JVM parse, the
    same for both."""
    docs_df = pipeline.ensure_parallelism(
        pipeline.load_documents(spark, docs_path))
    spans_df = pipeline.clean_spans(pipeline.parse_documents(docs_df))
    spans = {r["doc_id"]: [s.asDict() for s in r["clean_spans"]]
             for r in spans_df.collect()}
    rows = {(r["doc_id"], r["param_id"]): r.asDict()
            for r in FORMS[request.param](docs_df).collect()}
    return spans, rows
