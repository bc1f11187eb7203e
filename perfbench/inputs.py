"""Seeded benchmark inputs, written under the run's own work directory.

* The document corpus comes from the package's own generator
  (``corpus.write_corpus``): 40% crif, 20% gstr, 40% html by doc index,
  a mega-document every 97 docs.  Doc ``i`` depends only on
  ``(seed, i)``, so the first ``k`` docs of any corpus are also the
  oracle sample.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

BIG_DOC_EVERY = 97

#: rows per result: 15 bureau parameters per crif doc, 2 per gstr doc
ROWS_PER_KIND = {"crif": 15, "gstr": 2, "html": 0}


def doc_kind(i: int) -> str:
    """Kind of doc ``i`` as ``corpus.gen_documents`` assigns it."""
    cls = i % 10
    return "crif" if cls < 4 else "gstr" if cls < 6 else "html"


def expected_rows(n_docs: int) -> int:
    """Result rows of an ``n_docs`` corpus: 15·crif + 2·gstr."""
    return sum(ROWS_PER_KIND[doc_kind(i)] for i in range(n_docs))


def write_corpus(path: str, n_docs: int, seed: int) -> None:
    from crego_document_extractor_spark import corpus
    corpus.write_corpus(path, n_docs, seed=seed, big_doc_every=BIG_DOC_EVERY)


def oracle_docs(n_docs: int, seed: int) -> list[dict]:
    """The first ``n_docs`` docs of every corpus of this seed."""
    from crego_document_extractor_spark import corpus
    return list(corpus.gen_documents(n_docs, seed=seed,
                                     big_doc_every=BIG_DOC_EVERY))


def split_corpus(path: str, out_dir: str, n_files: int) -> None:
    """Re-write a corpus as ``n_files`` parquet files (stream input)."""
    table = pq.read_table(path)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:04d}.parquet"))
