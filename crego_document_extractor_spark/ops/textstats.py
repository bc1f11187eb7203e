"""Text-analysis operators for training-data curation — all JVM-side
scalar/higher-order expressions (no Python in the hot path).

* language-ID (character n-gram heuristic over a small broadcast
  profile table)
* quality scoring (length / punctuation / stopword ratios)
* token counting (whitespace + a BPE-ish subword regex estimate)
* document fingerprinting (rolling polynomial hash)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")


def _bind(bound_expr: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``bound_expr`` once and expose it as
    ``var`` inside ``body`` (single-element transform shell).  A
    spliced subexpression is otherwise re-evaluated at every textual
    occurrence — and, inside a lambda, once PER ELEMENT (the r6
    q_minhash_bands disease: a split inside a transform made the
    query quadratic in document length)."""
    return (f"element_at(transform(array({bound_expr}), "
            f"{var} -> {body}), 1)")


def words(text_col: str) -> str:
    """SQL: the lowercase words of `text_col` — split on Java's ``\\s``
    (space, TAB, LF, VT, FF, CR; not CPython's 29 separators), empty
    pieces dropped.  Every word-level operator, BPE training and BPE
    serving take their words from here."""
    return f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"


def doc_lines(text_col: str) -> str:
    """SQL: the trimmed non-blank lines of `text_col`."""
    return (f"filter(transform(split({text_col}, '\\n'), "
            f"l -> trim(l)), l -> l != '')")


def gram_starts(size: str, n: int) -> str:
    """SQL: the start positions of the `n`-grams of an array of `size`
    elements, none when it has fewer than `n` (the CASE guard matters:
    sequence(1, 0) is DESCENDING [1, 0] in Spark)."""
    return (f"CASE WHEN {size} >= {n} THEN "
            f"sequence(1, {size} - {n - 1}) "
            f"ELSE CAST(array() AS ARRAY<INT>) END")


def gram(toks: str, i: str, n: int) -> str:
    """SQL: the `n`-gram of array `toks` starting at position `i`, its
    tokens joined by single spaces."""
    return f"concat_ws(' ', slice({toks}, {i}, {n}))"


def word_ngrams(text_col: str, n: int) -> str:
    """SQL: all word `n`-grams of `text_col` (see `words`), in text
    order.  The word array binds once (r6): spliced into the transform
    lambda, the text was re-split per gram position."""
    return _bind(
        words(text_col), "tk",
        f"transform({gram_starts('size(tk)', n)}, i -> {gram('tk', 'i', n)})")


#: tiny trigram→language profile (deterministic heuristic stand-in; a
#: real deployment would broadcast a fastText-style table)
_LANG_MARKERS = {
    "en": ["the ", " and ", " of "],
    "de": ["der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " de los ", " y "],
}


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-hit counts, 'und'
    (undetermined) when nothing matches."""
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        hits = " + ".join(
            f"(size(split({text_col}, '{m}')) - 1)" for m in markers)
        scores.append(f"named_struct('lang', '{lang}', 'hits', {hits})")
    arr = "array(" + ", ".join(scores) + ")"
    best = (f"try_element_at(array_sort({arr}, (l, r) -> "
            f"CASE WHEN l.hits > r.hits THEN -1 WHEN l.hits < r.hits THEN 1 "
            f"WHEN l.lang < r.lang THEN -1 ELSE 1 END), 1)")
    # bind the sorted-argmax once — the old form spliced it twice
    # (.hits and .lang), running every marker census and the sort 2×
    return df.withColumn(
        "lang_guess",
        F.expr(_bind(best, "b",
                     "CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length band, alpha ratio,
    stopword presence, mean word length band (Gopher-style filters).

    r6: the four UNROUNDED metrics are computed once into a hidden
    struct column and every output (including the score's threshold
    CASEs, which must see the unrounded values — rounding first could
    flip a boundary) projects from it; the old form re-spliced each
    ratio (and its token split) into the score expression."""
    toks = f"split({text_col}, '\\\\s+')"
    stop_set = ", ".join(f"'{w}'" for w in STOPWORDS)
    raw = _bind(
        toks, "tk",
        f"named_struct("
        f"'n_toks', size(tk), "
        f"'stop_ratio', size(filter(tk, t -> lower(t) IN ({stop_set}))) / "
        f"cast(greatest(size(tk), 1) AS double), "
        f"'alpha_ratio', "
        f"length(regexp_replace({text_col}, '[^a-zA-Z]', '')) / "
        f"cast(greatest(length({text_col}), 1) AS double), "
        f"'mean_word', length(replace({text_col}, ' ', '')) / "
        f"cast(greatest(size(tk), 1) AS double))")
    return (df
            .withColumn("_qs", F.expr(raw))
            .withColumn("n_tokens", F.expr("_qs.n_toks"))
            .withColumn("stopword_ratio", F.expr("round(_qs.stop_ratio, 4)"))
            .withColumn("alpha_ratio", F.expr("round(_qs.alpha_ratio, 4)"))
            .withColumn("mean_word_len", F.expr("round(_qs.mean_word, 4)"))
            .withColumn("quality_score", F.expr(
                "round((CASE WHEN _qs.n_toks BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) + "
                "(CASE WHEN _qs.alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END) + "
                "(CASE WHEN _qs.stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) + "
                "(CASE WHEN _qs.mean_word BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END), 2)"))
            .drop("_qs"))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (word pieces of
    <=4 chars + digits/punct singles — a deterministic regex proxy for
    tokenizer cost accounting)."""
    ws = f"size(split({text_col}, '\\\\s+'))"
    bpe = (f"aggregate(split({text_col}, '\\\\s+'), 0, "
           f"(a, w) -> a + cast(ceil(length(w) / 4.0) AS int) + "
           f"size(filter(split(w, ''), ch -> ch rlike '[^a-zA-Z0-9]')))")
    return (df.withColumn("n_ws_tokens", F.expr(ws))
            .withColumn("n_bpe_tokens_est", F.expr(bpe)))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling hash over tokens — a document
    fingerprint usable as a near-dup prefilter key.  Bitwise
    combine (shift/xor) so ANSI mode can't overflow."""
    expr = (f"aggregate(split({text_col}, '\\\\s+'), cast(1469598103934665603 AS bigint), "
            f"(h, t) -> xxhash64(t) ^ shiftleft(h, 6) ^ shiftrightunsigned(h, 2))")
    return df.withColumn("fingerprint", F.expr(expr))


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, computed doc-locally with
    higher-order functions (a narrow projection — NO shuffle, the best
    possible 100 TB shape; lines per document are bounded so the
    O(lines²) local filter is cheap):

    * ``n_lines``            — non-blank line count
    * ``dup_line_frac``      — 1 − distinct/total lines
    * ``dup_line_char_frac`` — fraction of line characters living in a
      line that occurs more than once (the Gopher
      duplicate-line-character filter)

    Both fractions round to 4 places; all-integer sums keep the
    division exact and engine-independent (oracle-checkable).

    r6: the normalized line array binds ONCE into a hidden struct —
    the old form spliced the split+trim+filter pipeline into every
    consumer, including INSIDE the dup-chars lambda, where it was
    rebuilt once per line (quadratic split work on top of the
    intended O(lines²) local dup count)."""
    stats = _bind(
        doc_lines(text_col), "ls",
        "named_struct("
        "'n', size(ls), "
        "'dup_frac', CASE WHEN size(ls) = 0 THEN 0.0d ELSE "
        "1.0d - size(array_distinct(ls)) / cast(size(ls) AS double) END, "
        "'dup_chars', aggregate(ls, 0, (a, l) -> a + "
        "(CASE WHEN size(filter(ls, x -> x = l)) > 1 "
        "THEN length(l) ELSE 0 END)), "
        "'tot_chars', aggregate(ls, 0, (a, l) -> a + length(l)))")
    return (df.withColumn("_rs", F.expr(stats))
            .withColumn("n_lines", F.expr("_rs.n"))
            .withColumn("dup_line_frac", F.expr("round(_rs.dup_frac, 4)"))
            .withColumn("dup_line_char_frac", F.expr(
                "round(_rs.dup_chars / "
                "cast(greatest(_rs.tot_chars, 1) AS double), 4)"))
            .drop("_rs"))


def ngram_topk(df: DataFrame, n: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-level most-frequent word n-grams: (gram, n_occurrences,
    n_docs), count-desc then gram-asc, LIMIT k.

    Scale shape: explode grams → hash-aggregate.  ``count(*)`` gets
    map-side partial aggregation, so a skew-hot gram ("of the") is
    combined per map task before the shuffle — no salting needed for
    pure counts.  The distinct-doc count rides the same aggregation
    via the expand path.  Global top-k is a TakeOrdered (no total
    sort)."""
    # explode the gram START POSITIONS and build the gram string in
    # the codegen projection above the Generate (r6: the transform-
    # lambda form ran interpreted per gram — and the round-start
    # version additionally re-split the text per position)
    return (df.select("doc_id", F.expr(words(text_col)).alias("toks"))
            .select("doc_id", "toks", F.explode(F.expr(
                gram_starts("size(toks)", n))).alias("i"))
            .select("doc_id", F.expr(gram("toks", "i", n)).alias("gram"))
            .groupBy("gram")
            .agg(F.count("*").alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), F.asc("gram"))
            .limit(k))


def tok_hash16(tok: str) -> str:
    """SQL: the token's first 16 md5 bits as an integer in
    [0, 65535] — ascii() arithmetic so Spark and a DuckDB oracle
    compute the identical value.  The md5 binds once (r6): spliced
    per hex digit it was computed 4× per token, in per-token hot
    loops (model scoring, hashed features)."""
    hx = [f"substring(_m, {i}, 1)" for i in (1, 2, 3, 4)]
    arith = "(" + " + ".join(
        f"(ascii({c}) - CASE WHEN {c} BETWEEN '0' AND '9' "
        f"THEN 48 ELSE 87 END) * {m}"
        for c, m in zip(hx, (4096, 256, 16, 1))) + ")"
    return _bind(f"md5({tok})", "_m", arith)


def _tok_weight(tok: str) -> str:
    """SQL: deterministic per-token weight in [-0.5, 0.5] — the
    scaled 16-bit token hash."""
    return f"({tok_hash16(tok)} / 65535.0d - 0.5d)"


def with_model_quality_score(df: DataFrame, text_col: str = "text",
                             bias: float = 0.0,
                             gain: float = 8.0) -> DataFrame:
    """Model-based quality scoring: serve a linear bag-of-words text
    classifier (the fastText-style quality filter of CCNet/Dolma
    pipelines) as a pure JVM projection.

    score = sigmoid(bias + gain · mean(weight(token))) — a narrow,
    shuffle-free expression, the best possible 100 TB shape.  The
    per-token weights here are hash-derived (md5 → [-0.5, 0.5]):
    a deterministic stand-in for trained coefficients, since no model
    artifact ships in this sandbox; serving a real model swaps
    `_tok_weight` for a lookup into a broadcast vocab→weight map
    (see `with_rag_fallback`'s broadcast KB for the device) with the
    hash weight as the OOV fallback.  Adds ``model_n_tokens`` and
    ``model_quality_score`` (rounded to 6, oracle-checkable)."""
    # bind the token array once (r6): it was spliced into the fold,
    # the divisor and the count column — three tokenizations per row
    stats = _bind(
        words(text_col), "tk",
        f"named_struct('n', size(tk), 'mean_w', "
        f"aggregate(tk, 0.0d, (a, t) -> a + {_tok_weight('t')}) "
        f"/ cast(greatest(size(tk), 1) AS double))")
    logit = f"({bias!r}d + {gain!r}d * (_mq.mean_w))"
    return (df.withColumn("_mq", F.expr(stats))
            .withColumn("model_n_tokens", F.expr("_mq.n"))
            .withColumn("model_quality_score",
                        F.expr(f"round(1.0d / (1.0d + exp(-{logit})), 6)"))
            .drop("_mq"))


#: classic UTF-8-read-as-latin-1 digraphs — plain literals, so the
#: census means the same thing in Spark and any RE2-based oracle
MOJIBAKE_MARKERS = ("Ã©", "Ã¨", "Ã¢", "Ã±", "Ã¼", "Ã¶", "Ã¤",
                    "â€™", "â€œ", "â€", "â€“", "Â ")


def with_encoding_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-health signals (the ftfy-style triage a web corpus
    needs before training) as a narrow JVM projection:

    * ``n_mojibake``      — occurrences of classic double-encoded
      UTF-8 digraphs (literal census, portable to any oracle engine)
    * ``n_replacement``   — U+FFFD replacement characters
    * ``nonprint_ratio``  — chars outside printable ASCII + TAB/LF/CR,
      as a fraction (single-byte hex classes, valid in Java regex AND
      RE2)
    * ``encoding_ok``     — no mojibake, no replacement chars, and
      nonprint_ratio < 0.30 (CJK corpora legitimately exceed this —
      tune per corpus)
    """
    moji = " + ".join(
        f"(size(split({text_col}, '{m}', -1)) - 1)"
        for m in MOJIBAKE_MARKERS)
    repl = f"(size(split({text_col}, '\\uFFFD', -1)) - 1)"
    nonp = (f"length(regexp_replace({text_col}, "
            f"'[\\\\x20-\\\\x7e\\\\x09\\\\x0a\\\\x0d]', '')) / "
            f"cast(greatest(length({text_col}), 1) AS double)")
    # each census binds once (r6): the old form spliced all three into
    # encoding_ok as well, doubling every split/regexp pass
    return (df.withColumn("_ef", F.expr(
                f"named_struct('moji', {moji}, 'repl', {repl}, "
                f"'nonp', {nonp})"))
            .withColumn("n_mojibake", F.expr("_ef.moji"))
            .withColumn("n_replacement", F.expr("_ef.repl"))
            .withColumn("nonprint_ratio", F.expr("round(_ef.nonp, 4)"))
            .withColumn("encoding_ok", F.expr(
                "_ef.moji = 0 AND _ef.repl = 0 AND _ef.nonp < 0.30d"))
            .drop("_ef"))


def corpus_scorecard(df: DataFrame, text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Per-source corpus health dashboard — the monitoring aggregate a
    curation pipeline publishes each ingest batch: document count,
    English share (via `with_lang_guess`), mean heuristic quality
    (via `with_quality_score`), mean whitespace-token count.

    One narrow profiling projection → one hash aggregate keyed by
    `group_col` (map-side partials; output is sources × 4 doubles —
    bounded metadata).  All averaged quantities are exactly
    representable (quality is quarter-steps, the rest integers), so
    the averages are float-order-independent and oracle-exact."""
    p = with_quality_score(with_lang_guess(df, text_col), text_col)
    return (p.groupBy(group_col)
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg((F.col("lang_guess") == "en")
                               .cast("double")), 4).alias("en_share"),
                 # quality_score is DECIMAL (0.25 literals) — cast so
                 # the published average is a plain double
                 F.round(F.avg(F.col("quality_score").cast("double")), 4)
                 .alias("avg_quality"),
                 F.round(F.avg("n_tokens"), 2).alias("avg_tokens")))


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All of the above in one pass."""
    out = with_lang_guess(df, text_col)
    out = with_quality_score(out, text_col)
    out = with_token_counts(out, text_col)
    return with_fingerprint(out, text_col)


def hashed_features(df: DataFrame, dim: int = 8,
                    text_col: str = "text") -> DataFrame:
    """Hashed bag-of-words feature vector for classifier training:
    adds ``x`` = array<double> of length `dim` where
    x_j = (# tokens whose 16-bit md5 hash lands in bucket j) /
    max(n_tokens, 1).

    Pure JVM projection; identical ascii arithmetic to `_tok_weight`,
    so a DuckDB oracle reproduces the exact doubles.

    r6: each token's bucket is hashed ONCE into a bound int array and
    the `dim` cells count over it — the old form ran `dim` filter
    passes over a re-spliced token array, recomputing the md5 hash of
    every token per bucket (dim × 4 md5 calls per token)."""
    buckets = _bind(words(text_col), "tk",
                    f"transform(tk, t -> pmod({tok_hash16('t')}, {dim}))")
    cells = ", ".join(
        f"size(filter(bk, b -> b = {j})) "
        f"/ cast(greatest(size(bk), 1) AS double)"
        for j in range(dim))
    return df.withColumn(
        "x", F.expr(_bind(buckets, "bk", f"array({cells})")))


def train_quality_classifier(df: DataFrame, label_col: str = "label",
                             dim: int = 8, n_iter: int = 3,
                             lr: float = 1.0,
                             text_col: str = "text",
                             ) -> tuple[list[float], float]:
    """Train the `with_model_quality_score` linear classifier on the
    corpus itself: full-batch logistic-regression gradient descent,
    one distributed pass per iteration.

    Each iteration computes p = sigmoid(b + w·x) per document with the
    CURRENT weights inlined as literals (pure codegen projection) and
    reduces dim+1 gradient means in ONE hash-aggregate —
    grad_j = avg((p − y)·x_j), grad_b = avg(p − y) — then the driver
    applies w ← w − lr·grad (a dim-sized update, same driver-loop
    shape as `similarity.ivf_train`'s Lloyd step).  The shuffle per
    iteration carries dim+1 doubles per map task: nothing scales with
    corpus size except the scan.

    Serving the result = `with_model_quality_score` with these
    weights broadcast (vocab hashing is shared via `tok_hash16`).

    Returns (weights, bias)."""
    feats = hashed_features(df, dim=dim, text_col=text_col)
    feats = feats.select(F.expr(f"cast({label_col} AS double)")
                         .alias("y"), "x")
    w = [0.0] * dim
    b = 0.0
    for _ in range(n_iter):
        dot = " + ".join(f"({w[j]!r}d * element_at(x, {j + 1}))"
                         for j in range(dim))
        p = f"1.0d / (1.0d + exp(-({b!r}d + {dot})))"
        aggs = [F.avg(F.expr(f"({p} - y)")).alias("gb")] + [
            F.avg(F.expr(f"(({p}) - y) * element_at(x, {j + 1})"))
            .alias(f"g{j}") for j in range(dim)]
        row = feats.agg(*aggs).collect()[0]
        b -= lr * row["gb"]
        w = [w[j] - lr * row[f"g{j}"] for j in range(dim)]
    return w, b


def _bi_pairs_exploded(src: DataFrame) -> DataFrame:
    """(doc cols..., w1, w2): BOS-framed bigram pairs off a bound
    `toks` column — token POSITIONS explode and the pair builds in the
    codegen projection above the Generate (r6: the transform-lambda
    form ran interpreted per position)."""
    keep = [c for c in src.columns if c != "toks"]
    return (src.select(*keep, "toks",
                       F.explode(F.expr(gram_starts("size(toks)", 1)))
                       .alias("i"))
            .select(*keep,
                    F.expr("CASE WHEN i = 1 THEN '<s>' "
                           "ELSE element_at(toks, i - 1) END").alias("w1"),
                    F.expr("element_at(toks, i)").alias("w2")))


def ngram_lm_train(df: DataFrame, text_col: str = "text",
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train a bigram language model on the corpus (the CCNet/KenLM
    perplexity-filter device, at bigram order): returns
    ``(unigrams, bigrams, stats)`` DataFrames —
    (w, c_w), (w1, w2, c_bi), and a 1-row (vocab_size, n_tokens).

    The model stays DISTRIBUTED (vocab-sized tables, never
    collected): at 100 TB the bigram table is far too large for the
    driver, and scoring joins against it directly.  Each census is
    one explode → map-side-combined hash aggregate.  Documents are
    sentence-framed with a BOS token ``<s>`` so the first word is
    scored too."""
    toks = words(text_col)
    uni = (df.select(F.explode(F.expr(toks)).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c_w")))
    bi = (_bi_pairs_exploded(df.select(F.expr(toks).alias("toks")))
          .groupBy("w1", "w2").agg(F.count("*").alias("c_bi")))
    stats = uni.agg(F.count("*").alias("vocab_size"),
                    F.sum("c_w").alias("n_tokens"))
    return uni, bi, stats


def with_perplexity(df: DataFrame, bi: DataFrame, stats: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Score each document under the bigram model with add-one
    smoothing: logp(w2|w1) = ln((c_bi + 1) / (c_ctx + V)) where c_ctx
    is the context count (<s> contexts use the document count of the
    training census's BOS bigrams = sum over c_bi with w1='<s>';
    here, symmetrically, ctx('<s>') falls back to V-smoothed zero) —
    adds ``lm_n_scored``, ``lm_avg_logp``, ``lm_perplexity``.

    Scale shape: doc-bigram explode (linear) → two vocab-sized
    left joins (AQE picks broadcast when the model fits, sort-merge
    otherwise) → per-doc hash aggregate.  The perplexity filter of
    CCNet drops docs above a per-language percentile of
    ``lm_perplexity`` — composable with `corpus_scorecard`."""
    ids = _bi_pairs_exploded(
        df.select("doc_id", F.expr(words(text_col)).alias("toks")))
    ctx = (bi.groupBy("w1").agg(F.sum("c_bi").alias("c_ctx")))
    scored = (ids
              .join(bi, ["w1", "w2"], "left")
              .join(ctx, ["w1"], "left")
              .crossJoin(F.broadcast(stats.select("vocab_size")))
              .withColumn("logp", F.expr(
                  "ln((coalesce(c_bi, 0) + 1) / "
                  "cast(coalesce(c_ctx, 0) + vocab_size AS double))")))
    agg = (scored.groupBy("doc_id")
           .agg(F.expr("cast(count(*) AS int)").alias("lm_n_scored"),
                F.expr("round(avg(logp), 6)").alias("lm_avg_logp"),
                F.expr("round(exp(-avg(logp)), 6)")
                .alias("lm_perplexity")))
    return (df.join(agg, "doc_id", "left")
            .withColumn("lm_n_scored",
                        F.expr("coalesce(lm_n_scored, 0)")))


def tfidf_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               id_col: str = "doc_id",
               cache_tf: bool = False) -> DataFrame:
    """Per-document top-`k` keywords by tf-idf — the classic
    two-pass IR shape, written so every pass is map-side combined:

    1. term frequency: explode tokens → groupBy(doc, term) count
       (partial agg collapses each doc's repeats before the shuffle);
    2. document frequency rides OFF THE SAME aggregate (a second
       groupBy(term) over the (doc, term) rows — input is already
       distinct per doc, so df is a plain count(*), map-side
       combinable, no count-distinct expand);
    3. idf = ln((N + 1) / (df + 1)) with N via a one-row broadcast
       (BroadcastNestedLoopJoin over a single row — constant cost);
    4. per-doc top-k by score via row_number, which Catalyst executes
       with map-side + reduce-side WindowGroupLimit (≤ k rows per doc
       per partition cross the last shuffle).

    At 10^12 docs the term census is vocabulary-sized (≪ corpus);
    the joins key on `term`, so a stop-word-hot term is absorbed by
    the partial aggregates and, on the tf×df join, by AQE skew-join
    splitting (the reason df comes from a JOIN and not a
    count-over-window: a window partition on a hot term cannot be
    split, a skewed join partition can).  Scores round to 4 decimals
    (portable float discipline, see ops/curation.dsir_select).

    `cache_tf=True` persists the (doc, term, tf) aggregate so the df
    census reuses it instead of re-running the explode lineage —
    the production lever when the corpus scan dominates (exchange
    reuse across the two consumers is not guaranteed by the
    optimizer; without caching the plan scans the corpus twice).
    Lifetime contract: DataFrame.persist registers the plan in the
    session CacheManager, which holds it for the session — it is NOT
    auto-freed when the result goes unreachable, so a cache_tf=True
    caller owns the blocks and must release them with
    ``result.sparkSession.catalog.clearCache()`` or by unpersisting
    the plan when done (r5 ADVICE)."""
    tf = (df.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.expr(words(text_col))).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count("*").alias("tf")))
    if cache_tf:
        # persist, not localCheckpoint: checkpointed partitions have
        # no lineage, so an executor loss would abort the job — with
        # persist a lost block recomputes
        tf = tf.persist()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.select(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .join(F.broadcast(n))
              .withColumn("tfidf", F.expr(
                  "round(tf * ln((n_docs + 1) / "
                  "cast(df + 1 AS double)), 4)")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "tf", "df", "tfidf", "rank"))


def with_top_ngram_coverage(df: DataFrame, n: int = 2,
                            text_col: str = "text") -> DataFrame:
    """The remaining Gopher repetition filter (Rae et al. 2021,
    "fraction of characters in the most frequent word n-gram"):
    per document, find the most frequent word `n`-gram (tie → the
    lexicographically smallest) and report how much of the document
    its occurrences cover.  Adds ``top_gram`` (null when the doc has
    < n tokens), ``top_gram_count``, and ``top_gram_char_frac``
    (count × gram length / doc length, rounded to 4).

    Doc-local higher-order functions only — a narrow projection with
    NO shuffle, like `with_repetition_stats`; the O(distinct × total)
    local count is bounded by per-document size, never corpus size.

    r6: the token and gram arrays bind once — the old form re-spliced
    the gram pipeline (split included) into the per-distinct-gram
    count lambda, rebuilding it once per distinct gram on top of the
    intended local count."""
    counted = ("transform(array_distinct(gs), g -> "
               "named_struct('g', g, 'c', "
               "size(filter(gs, x -> x = g))))")
    best = _bind(
        word_ngrams(text_col, n), "gs",
        f"try_element_at(array_sort({counted}, (l, r) -> "
        f"CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1 "
        f"WHEN l.g < r.g THEN -1 ELSE 1 END), 1)")
    return (df.withColumn("_tg", F.expr(best))
            .withColumn("top_gram", F.expr("_tg.g"))
            .withColumn("top_gram_count",
                        F.expr("coalesce(_tg.c, 0)"))
            .withColumn("top_gram_char_frac", F.expr(
                f"round(coalesce(_tg.c * length(_tg.g), 0) / "
                f"cast(greatest(length({text_col}), 1) AS double), 4)"))
            .drop("_tg"))


def length_quantiles(df: DataFrame, by: str = "source",
                     value_col: str = "n_chars",
                     qs: tuple = (0.5, 0.9, 0.99),
                     approx: bool = False) -> DataFrame:
    """Per-group length distribution — the other half of the corpus
    dashboard (`corpus_scorecard` has the means; length SHAPE is what
    packing budgets and truncation policies are tuned against):
    exact interpolated percentiles of `value_col` per `by` group.

    ``approx=False`` (default) uses Spark's exact ``percentile`` —
    memory is proportional to the largest group, fine up to ~10^8
    rows per group and exactly reproducible by a DuckDB
    ``quantile_cont`` oracle.  ``approx=True`` switches to
    ``approx_percentile(..., 10000)`` (t-digest-style sketch,
    constant memory) — the 10^12-row production path; its results
    are engine-specific, so the driver oracle pins the exact form
    and the approx form is property-tested (within-range, ordered).
    All values round to 4 (portable float discipline)."""
    fn = "approx_percentile" if approx else "percentile"
    extra = ", 10000" if approx else ""
    aggs = [F.count("*").alias("n")]
    for q in qs:
        name = f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"
        aggs.append(F.expr(
            f"round(cast({fn}({value_col}, {q}{extra}) AS double), 4)")
            .alias(name))
    return df.groupBy(by).agg(*aggs)


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease — the classic readability feature of
    quality-filter stacks (alongside the Gopher ratios): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/word), with sentences =
    non-blank [.!?]-delimited segments and syllables = vowel-group
    count ([aeiouy]+) — the standard dictionary-free heuristic, chosen
    because it means the same thing in Java regex and RE2 (DuckDB-
    oracle-portable).  Adds ``n_sentences``, ``n_syllables``, and
    ``flesch`` (round 4).  Pure scalar projection — no shuffle.
    The three counts bind once into a struct (r6): each was spliced
    twice (its own column + the flesch formula)."""
    stats = (f"named_struct("
             f"'sents', greatest(size(filter(split({text_col}, '[.!?]+'), "
             f"s -> trim(s) != '')), 1), "
             f"'syls', size(regexp_extract_all(lower({text_col}), "
             f"'[aeiouy]+', 0)), "
             f"'words', greatest(size({words(text_col)}), 1))")
    return (df.withColumn("_fl", F.expr(stats))
            .withColumn("n_sentences", F.expr("_fl.sents"))
            .withColumn("n_syllables", F.expr("_fl.syls"))
            .withColumn("flesch", F.expr(
                "round(206.835d - 1.015d * (_fl.words / cast(_fl.sents AS "
                "double)) - 84.6d * (_fl.syls / cast(_fl.words AS double)), "
                "4)"))
            .drop("_fl"))


def with_line_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RedPajama-style line-level quality signals — the line-shape
    heuristics (terminal punctuation, bullets, stubs) that separate
    prose from scraped navigation/listing debris:

    * ``frac_lines_end_punct`` — lines ending in . ! ? or a quote
    * ``frac_bullet_lines``    — lines starting with -, *, •, or a
      numbered-list prefix (``^[0-9]+\\.``)
    * ``frac_short_lines``     — lines under 10 characters
    * ``mean_line_len``        — mean characters per non-blank line

    All doc-local higher-order functions over the same normalized
    line split as `with_repetition_stats` — a narrow projection, no
    shuffle; every predicate is Java-regex/RE2-identical so a DuckDB
    oracle replays it bit-for-bit (fractions round 4).  The line
    array binds once into a struct (r6): it was spliced into all five
    signals, re-splitting the text per output column."""
    stats = _bind(
        doc_lines(text_col), "ls",
        "named_struct("
        "'n_lines', size(ls), "
        "'endp', size(filter(ls, l -> "
        "right(l, 1) IN ('.', '!', '?', '\"', \"'\"))), "
        "'bullet', size(filter(ls, l -> "
        "left(l, 1) IN ('-', '*', '•') OR l rlike '^[0-9]+\\\\.')), "
        "'short', size(filter(ls, l -> length(l) < 10)), "
        "'tot', aggregate(ls, 0, (a, l) -> a + length(l)))")
    n = "cast(greatest(_ls.n_lines, 1) AS double)"
    return (df.withColumn("_ls", F.expr(stats))
            .withColumn("n_lines", F.expr("_ls.n_lines"))
            .withColumn("frac_lines_end_punct",
                        F.expr(f"round(_ls.endp / {n}, 4)"))
            .withColumn("frac_bullet_lines",
                        F.expr(f"round(_ls.bullet / {n}, 4)"))
            .withColumn("frac_short_lines",
                        F.expr(f"round(_ls.short / {n}, 4)"))
            .withColumn("mean_line_len",
                        F.expr(f"round(_ls.tot / {n}, 4)"))
            .drop("_ls"))


def with_char_entropy(df: DataFrame, text_col: str = "text",
                      max_chars: int = 2000) -> DataFrame:
    """Shannon character entropy (bits/char) — the cheap gibberish /
    encoding-junk detector: natural language sits ~3.5-4.5 bits,
    base64 blobs and binary spill run higher, single-char spam runs
    toward 0.  Computed over the first `max_chars` characters (a
    stable prefix bounds the doc-local O(distinct × len) count loop
    regardless of document size).  Adds ``char_entropy`` (round 4)
    and ``n_distinct_chars``.  Narrow projection — no shuffle; all
    arithmetic is plain double ops a DuckDB oracle reproduces
    (summation-order slack is absorbed by the rounding, same
    discipline as ops/curation.dsir_select)."""
    prefix = f"substring(coalesce({text_col}, ''), 1, {max_chars})"
    # filter the '' artifact: split('', '') is [''] in Spark, which
    # would count the empty string as a character on empty documents.
    # The char array binds once (r6: it was re-split per distinct char
    # inside the entropy fold — twice, since the count was spliced
    # into both p and ln p); the per-char count also binds so each
    # distinct char runs ONE filter pass instead of two.
    chars = f"filter(split({prefix}, ''), c -> c != '')"
    term = _bind("size(filter(cs, c -> c = d))", "k",
                 "(k / cast(greatest(size(cs), 1) AS double)) * "
                 "(ln(k / cast(greatest(size(cs), 1) AS double)) / "
                 "ln(2.0d))")
    stats = _bind(
        chars, "cs",
        f"named_struct("
        f"'nd', size(array_distinct(cs)), "
        f"'ent', -aggregate(array_distinct(cs), cast(0.0 AS double), "
        f"(acc, d) -> acc + {term}))")
    # + 0.0d: normalizes IEEE -0.0 (empty/one-char inputs) to 0.0 so
    # both engines hash the same value
    return (df.withColumn("_ce", F.expr(stats))
            .withColumn("n_distinct_chars", F.expr("_ce.nd"))
            .withColumn("char_entropy",
                        F.expr("round(_ce.ent, 4) + cast(0.0 AS double)"))
            .drop("_ce"))
