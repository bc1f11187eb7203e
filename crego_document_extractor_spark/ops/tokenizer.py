"""Tokenizer induction: distributed BPE merge training over the
corpus word census.

The reference pipeline consumes text through fixed tokenization
(whitespace + regex, `app/services/crif_parser.py` tokenize calls);
a training-data engine additionally needs to TRAIN the tokenizer on
the corpus it curates.  This module implements classic byte-pair
encoding (Sennrich et al. 2016) the way a 100 TB corpus demands:

* The corpus-sized shuffle happens ONCE (`word_census` — groupBy
  word, map-side-combined count).  Every merge iteration afterwards
  runs on the *distinct-word* table (vocab-sized: ~10^6-10^8 rows at
  web scale, independent of corpus size), which is the standard trick
  that makes corpus-scale BPE tractable.
* Each iteration is one hash-aggregate over adjacent symbol pairs
  weighted by word frequency (map-side combine ⇒ the shuffle moves at
  most |pairs-vocab| rows), one bounded driver action (the argmax
  pair — a single row, same pattern as `similarity.ivf_train`'s Lloyd
  step), and one narrow JVM fold that applies the merge greedily
  left-to-right per word.  No Python UDFs anywhere.
* Lineage is cut with an eager `localCheckpoint` every few merges so
  the plan stays flat over hundreds of iterations (on a real cluster
  a reliable checkpoint dir serves the same purpose).

Greedy left-to-right application matches the reference BPE semantics:
folding ["a","a","a"] with merge (a,a) yields ["aa","a"] because the
freshly merged symbol can no longer equal the pair's left element in
the same pass.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .textstats import gram_starts, words

__all__ = ["word_census", "pair_census", "apply_merge", "bpe_train",
           "bpe_encode"]

_EMPTY_ARR = "CAST(array() AS ARRAY<STRING>)"


def _sq(s: str) -> str:
    """Escape a python string into a Spark SQL single-quoted literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def word_census(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n_occurrences, symbols) — the one corpus-sized pass.

    `symbols` starts as the word's characters; merge training mutates
    it.  Scale shape: explode the words (`textstats.words`) →
    hash-aggregate with map-side partial counts; output is vocab-sized.
    """
    return (df.select(F.explode(F.expr(words(text_col))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n_occurrences"))
            .withColumn(
                "symbols",
                F.expr("filter(split(word, ''), c -> c != '')")))


def pair_census(words: DataFrame, k: int | None = None) -> DataFrame:
    """Adjacent-symbol pair frequencies over the vocab table:
    (pair_left, pair_right, n_occurrences), count-desc then pair-asc.

    One explode + hash-aggregate on a vocab-sized input; `k` caps the
    output with a TakeOrdered (no total sort)."""
    pairs = (f"transform({gram_starts('size(symbols)', 2)}, "
             "i -> struct(try_element_at(symbols, i) AS pair_left, "
             "try_element_at(symbols, i + 1) AS pair_right))")
    out = (words.select("n_occurrences",
                        F.explode(F.expr(pairs)).alias("p"))
           .select("p.pair_left", "p.pair_right", "n_occurrences")
           .groupBy("pair_left", "pair_right")
           .agg(F.sum("n_occurrences").alias("n_occurrences"))
           .orderBy(F.desc("n_occurrences"), F.asc("pair_left"),
                    F.asc("pair_right")))
    return out.limit(k) if k is not None else out


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every adjacent (left, right) symbol pair, greedy
    left-to-right, as a pure JVM fold (no shuffle)."""
    a, b, ab = _sq(left), _sq(right), _sq(left + right)
    fold = (f"aggregate(symbols, {_EMPTY_ARR}, (acc, x) -> "
            f"CASE WHEN try_element_at(acc, -1) = '{a}' AND x = '{b}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{ab}')) "
            f"ELSE concat(acc, array(x)) END)")
    return words.withColumn("symbols", F.expr(fold))


def bpe_train(df: DataFrame, n_merges: int = 10,
              text_col: str = "text", min_count: int = 1,
              checkpoint_every: int = 4,
              ) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn `n_merges` BPE merges; returns (merges, final vocab df).

    Driver loop over a vocab-sized table (the corpus is aggregated
    away up front); each step = one pair-census aggregate + a 1-row
    collect + a narrow fold.  Ties break deterministically
    (count desc, pair lexicographic asc) so retries and the python
    oracle agree.  Stops early when no pair repeats."""
    words = word_census(df, text_col)
    if min_count > 1:
        words = words.filter(F.col("n_occurrences") >= min_count)
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for step in range(n_merges):
        top = pair_census(words, k=1).collect()
        if not top or top[0]["n_occurrences"] < 2:
            break
        lft, rgt = top[0]["pair_left"], top[0]["pair_right"]
        merges.append((lft, rgt))
        words = apply_merge(words, lft, rgt)
        if (step + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges, words


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text") -> DataFrame:
    """Serve a trained BPE model: segment every document with the
    learned merge list, adding ``bpe_pieces`` (array<string>) and
    ``n_bpe_pieces``.

    This is the honest 100 TB shape for tokenizer SERVING — one
    Arrow-batched scalar pandas_udf (narrow, no shuffle), exactly how
    production pipelines tokenize: its input is the document's words
    from the same JVM split as `word_census` (`textstats.words`), so
    only the words cross into Python; the merge table rides the task
    closure (a few thousand pairs), each task memoizes the encoding
    per distinct word, and the greedy fold applies merges in learned
    order — bit-identical to the training-time `apply_merge` fold, so
    ``encode(train_corpus)`` reproduces the final training vocabulary
    segmentations (pinned by test).

    A pure-JVM alternative (chaining `apply_merge`'s fold n_merges
    deep over the corpus) types out the same result but nests
    n_merges interpreted HOFs per row — the Python stage with per-word
    memoization is measurably the right trade here, like the fused
    parse stage (BENCH/ENGINE_AB.md)."""
    mlist = [tuple(m) for m in merges]
    cache: dict[str, list[str]] = {}

    def _encode_word(word: str) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word)
        for a, b in mlist:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        cache[word] = syms
        return syms

    @pandas_udf("array<string>")
    def _encode(docs: pd.Series) -> pd.Series:
        # a NULL text has NULL words: no pieces
        return pd.Series([[p for w in (ws if ws is not None else ())
                           for p in _encode_word(w)] for ws in docs])

    return (df.withColumn("bpe_pieces", _encode(F.expr(words(text_col))))
            .withColumn("n_bpe_pieces", F.size("bpe_pieces")))
