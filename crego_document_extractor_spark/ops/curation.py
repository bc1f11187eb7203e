"""Corpus-curation operators: deterministic sampling + PII scrubbing.

Two more staples of a web-scale training-data pipeline, built to the
same standard as ops/dedup and ops/textstats: pure JVM expressions,
scale-safe shuffle shapes, and semantics a DuckDB oracle can
reproduce bit-for-bit.

* ``stratified_sample`` — per-stratum top-k by a content-independent
  deterministic key (md5 of the id): every engine, every run, every
  cluster size selects the SAME sample — the property that makes
  sampled pipelines resumable and auditable.  The per-stratum rank is
  a windowed row_number, which Catalyst executes with map-side +
  reduce-side WindowGroupLimit (only k rows per stratum per partition
  shuffle — the same audited shape as q_t1_topk_per_group).
* ``redact_pii`` — email / long-digit-run scrubbing with patterns
  chosen to mean the same thing in Java regex (Spark) and RE2
  (DuckDB), so redaction is oracle-checkable.  At corpus scale this
  is a narrow projection (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .textstats import doc_lines, tok_hash16, word_ngrams

#: patterns valid AND equivalent in Java regex and RE2 — no
#: backreferences, no lookaround, ASCII \b
EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PAT = r"\b\d{10,12}\b"


def stratified_sample(df: DataFrame, n_per_stratum: int,
                      key_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sample: rank rows inside each
    `key_col` group by (md5(id), id) and keep the first
    `n_per_stratum`.  md5 of the stringified id is uniform,
    content-independent, and computes identically everywhere."""
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (df.withColumn("sample_rank", F.row_number().over(w))
            .where(F.col("sample_rank") <= n_per_stratum))


def mix_by_source(df: DataFrame, weights: dict, budget: int,
                  source_col: str = "source",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic domain-mixture sampling: compose a training set of
    ~``budget`` documents whose per-``source_col`` proportions follow
    ``weights`` (a small dict source → relative weight, normalized
    here) — the data-mixing step every LLM pretraining run does
    (Pile/Dolma-style source reweighting).

    Per-source quota = floor(budget × weight / Σweights); inside each
    source, documents rank by (md5(id), id) — the same
    content-independent uniform device as `stratified_sample`, so the
    selection is identical on every run, engine, and cluster size.
    Sources absent from ``weights`` get quota 0 (dropped).  Scale
    shape: the rank filter is split in two so Catalyst keeps the
    map/reduce-side WindowGroupLimit prune (it requires a LITERAL
    limit): `rank <= max(quota)` prunes every source to the largest
    quota during the shuffle, then the per-source CASE quota refines —
    no join anywhere."""
    total = float(sum(weights.values()))
    quotas = {s: int(budget * wgt / total) for s, wgt in weights.items()}
    quota = F.lit(0)
    for src, q in sorted(quotas.items()):
        quota = F.when(F.col(source_col) == src, F.lit(q)).otherwise(quota)
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (df.withColumn("mix_rank", F.row_number().over(w))
            .where(F.col("mix_rank") <= max(quotas.values(), default=0))
            .where(F.col("mix_rank") <= quota))


def boilerplate_lines(df: DataFrame, min_docs: int = 10,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide boilerplate census: (line, n_docs) for every
    normalized line appearing in at least `min_docs` distinct
    documents — cookie banners, nav bars, footers.  Per-doc lines are
    array_distinct'd BEFORE the explode, so n_docs is a plain count(*)
    (map-side combinable) rather than a count-distinct expand."""
    return (df.select(F.explode(
                F.expr(f"array_distinct({doc_lines(text_col)})"))
                .alias("line"))
            .groupBy("line")
            .agg(F.count("*").alias("n_docs"))
            .where(F.col("n_docs") >= min_docs))


def remove_boilerplate_lines(df: DataFrame, min_docs: int = 10,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """CCNet-style terminal boilerplate removal: strip every line that
    `boilerplate_lines` flags, preserving the order of surviving
    lines; text is re-normalized to trimmed non-blank lines joined by
    newlines.  Adds ``n_removed_lines``.

    Scale shape: the census aggregate's OUTPUT (lines above a high
    doc-frequency threshold — small by construction) collapses to one
    array row and is **broadcast**, so the removal pass is a narrow
    per-doc HOF filter — the corpus itself never shuffles.  The
    per-line membership probe is O(|census|); for a census too big to
    broadcast, swap the crossJoin for the posexplode → anti-join →
    re-assemble form (the same reassembly the per-page PDF ingest
    proves partition-invariant)."""
    census = (boilerplate_lines(df, min_docs, text_col, id_col)
              .agg(F.collect_list("line").alias("_bl")))
    # bind the line array and the kept subset once (r6): spliced, the
    # text was re-split four times per row and the census membership
    # filter ran twice
    return (df.crossJoin(F.broadcast(census))
            .withColumn("_lines", F.expr(doc_lines(text_col)))
            .withColumn("_kept", F.expr(
                "filter(_lines, l -> NOT array_contains(_bl, l))"))
            .withColumn("n_removed_lines",
                        F.expr("size(_lines) - size(_kept)"))
            .withColumn(text_col, F.expr("array_join(_kept, '\\n')"))
            .drop("_bl", "_lines", "_kept"))


def contamination_report(df: DataFrame, eval_df: DataFrame, n: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Benchmark-decontamination scan: which corpus documents share
    any word `n`-gram with the (small) evaluation set.

    Returns (doc_id, n_contam_grams, first_gram) for contaminated
    documents only.  Scale shape: the eval side collapses to a
    DISTINCT gram set and is **broadcast**, so the corpus side is
    explode → broadcast-hash-join (no corpus shuffle) → the inner join
    drops every clean gram BEFORE the only aggregation, whose input is
    proportional to the contamination, not the corpus.  This is the
    standard n-gram overlap decontamination used ahead of LLM
    training runs (the reference has no equivalent; cited op class:
    SURVEY.md §2.9 pipeline extensions)."""
    distinct_grams = f"array_distinct({word_ngrams(text_col, n)})"
    evals = (eval_df
             .select(F.explode(F.expr(distinct_grams)).alias("gram"))
             .distinct())
    grams = df.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.expr(distinct_grams)).alias("gram"))
    return (grams.join(F.broadcast(evals), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contam_grams"),
                 F.min("gram").alias("first_gram")))


def drop_contaminated(df: DataFrame, eval_df: DataFrame, n: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Corpus minus contaminated docs (anti-join against the report;
    the report is tiny relative to the corpus, so AQE turns this into
    a broadcast anti-join at runtime)."""
    bad = contamination_report(df, eval_df, n, text_col, id_col)
    return df.join(bad.select(F.col("doc_id").alias(id_col)),
                   id_col, "left_anti")


def epoch_shard(df: DataFrame, n_shards: int = 16, seed: int = 0,
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-epoch shuffle + shard assignment.

    ``shuffle_key`` = md5(seed ‖ id): a content-independent uniform
    hex string whose LEXICOGRAPHIC order is the epoch's global
    shuffle order (portable — no engine-specific hash).  ``shard`` =
    first-16-bits-of-md5 mod n_shards (`textstats.tok_hash16`: ascii()
    arithmetic, so Spark and an oracle compute the identical value).
    Narrow projection — the assignment itself needs NO shuffle;
    writers repartition by ``shard`` to land one file set per shard."""
    salted = f"concat('{seed}:', cast({id_col} AS string))"
    return (df.withColumn("shuffle_key", F.expr(f"md5({salted})"))
            .withColumn("shard",
                        F.expr(f"{tok_hash16(salted)} % {n_shards}")))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``n_pii`` (matches found) and ``redacted`` (text with
    emails → [EMAIL], 10-12 digit runs → [PHONE]).  Counting uses the
    same patterns as the rewrite, so n_pii == 0 ⇒ redacted == text."""
    # Spark SQL string literals process backslash escapes, so regex
    # backslashes must be doubled when embedded in expr() text
    email_sql = EMAIL_PAT.replace("\\", "\\\\")
    phone_sql = PHONE_PAT.replace("\\", "\\\\")
    email_count = f"size(regexp_extract_all({text_col}, '{email_sql}', 0))"
    phone_count = f"size(regexp_extract_all({text_col}, '{phone_sql}', 0))"
    redacted = (f"regexp_replace(regexp_replace({text_col}, "
                f"'{email_sql}', '[EMAIL]'), '{phone_sql}', '[PHONE]')")
    return (df.withColumn("n_pii",
                          F.expr(f"{email_count} + {phone_count}"))
            .withColumn("redacted", F.expr(redacted)))


def duplicate_ngram_report(df: DataFrame, n: int = 8, min_docs: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Cross-document duplicated-text metric (the doc-level signal
    RefinedWeb/FineWeb gate on before training): for each document,
    how many of its distinct word `n`-grams also occur in at least
    `min_docs` documents corpus-wide, and the resulting ratio.

    Returns (doc_id, n_grams, n_dup_grams, dup_ratio) for every doc.

    Differs from `contamination_report` (overlap vs a SMALL broadcast
    eval set) and `textstats.with_repetition_stats` (WITHIN-doc
    repetition): this is corpus × corpus, so the gram census cannot
    broadcast — the shape is explode(distinct grams per doc) →
    map-side-combined census groupBy(gram) → census filtered to
    duplicated grams only (usually a small fraction) → marker left
    join back → ONE per-doc aggregate producing both counts.  All
    linear; per-doc array_distinct BEFORE the explode keeps the
    census a plain count(*).  r6: the gram pipeline (split + distinct
    + per-window concat) used to be evaluated a third time just for
    the per-doc `size(...)` denominator, and the dup count rode a
    second doc_id join — `n_grams` is simply count(*) of the same
    exploded distinct grams, so one marker left-join + one aggregate
    yields both columns (values identical: census rows are unique per
    gram, so the left join never multiplies rows).  Both counts are
    pooled per `doc_id` and joined back to every input row, so that
    claim assumes unique `doc_id`s: rows sharing one all get the
    pooled counts."""
    grams = df.select(F.col(id_col).alias("doc_id"), F.explode(F.expr(
        f"array_distinct({word_ngrams(text_col, n)})")).alias("gram"))
    census = (grams.groupBy("gram")
              .agg(F.count("*").alias("_nd"))
              .where(F.col("_nd") >= min_docs)
              .select("gram", F.lit(1).alias("_dup")))
    per_doc = (grams.join(census, "gram", "left")
               .groupBy("doc_id")
               .agg(F.count("*").cast("int").alias("n_grams"),
                    F.count("_dup").cast("int").alias("n_dup_grams")))
    base = df.select(F.col(id_col).alias("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .withColumn("n_grams", F.expr("coalesce(n_grams, 0)"))
            .withColumn("n_dup_grams",
                        F.expr("coalesce(n_dup_grams, 0)"))
            .withColumn("dup_ratio", F.expr(
                "CASE WHEN n_grams > 0 THEN n_dup_grams / "
                "cast(n_grams AS double) ELSE 0.0d END")))


def dsir_logratios(df: DataFrame, target_df: DataFrame,
                   n_buckets: int = 64, n: int = 2,
                   text_col: str = "text") -> list:
    """Hashed-n-gram importance log-ratios — the model of DSIR
    (Data Selection via Importance Resampling, Xie et al. 2023):
    estimate a bag-of-hashed-n-grams distribution over `n_buckets`
    buckets for the (small) TARGET corpus and the RAW corpus, and
    return, per bucket, ``ln(p_target) - ln(p_raw)`` with add-0.5
    smoothing, each rounded to 6 decimals (so the serving fold is
    bit-reproducible by a DuckDB oracle).

    Scale shape: each census is explode → 16-bit md5 bucket (pure
    codegen arithmetic) → map-side-combined count per bucket — output
    is `n_buckets` rows regardless of corpus size, collected to the
    driver exactly like the IVF literal codebook
    (ops/similarity.ivf_topk).  Two tiny jobs; nothing data-sized
    crosses a shuffle except the bucket counts."""
    import math
    bucket = f"({tok_hash16('gram')} % {n_buckets})"

    def census(d: DataFrame) -> list:
        rows = (d.select(F.explode(
                    F.expr(word_ngrams(text_col, n))).alias("gram"))
                .groupBy(F.expr(bucket).alias("b"))
                .count().collect())
        counts = [0] * n_buckets
        for r in rows:
            counts[r["b"]] = r["count"]
        return counts

    t, r = census(target_df), census(df)
    tot_t, tot_r = sum(t), sum(r)
    return [round(math.log((tb + 0.5) / (tot_t + 0.5 * n_buckets))
                  - math.log((rb + 0.5) / (tot_r + 0.5 * n_buckets)), 6)
            for tb, rb in zip(t, r)]


def with_dsir_weight(df: DataFrame, logratios: list, n: int = 2,
                     text_col: str = "text") -> DataFrame:
    """Serve the DSIR importance weight as a ZERO-SHUFFLE projection:
    the log-ratio table rides into the plan as a literal array (it is
    `n_buckets` doubles — broadcast-by-construction, no join), and the
    per-document weight is a whole-stage-codegen `aggregate` fold over
    the document's hashed n-grams, added in text order so Spark and
    the DuckDB oracle see the identical float sequence.  Adds
    ``dsir_logw`` (rounded to 4)."""
    lr = "array(" + ", ".join(f"{float(v)!r}d" for v in logratios) + ")"
    h = tok_hash16("g")
    return df.withColumn("dsir_logw", F.expr(
        f"round(aggregate({word_ngrams(text_col, n)}, "
        f"cast(0.0 AS double), "
        f"(acc, g) -> acc + element_at({lr}, ({h} % {len(logratios)}) + 1)"
        f"), 4)"))


def dsir_select(df: DataFrame, target_df: DataFrame, k: int,
                n_buckets: int = 64, n: int = 2,
                text_col: str = "text", id_col: str = "doc_id",
                gumbel: bool = True) -> DataFrame:
    """DSIR data selection end-to-end: census both corpora
    (`dsir_logratios`), serve per-document importance log-weights
    shuffle-free (`with_dsir_weight`), perturb with deterministic
    Gumbel noise keyed on the document id (Gumbel-top-k ==
    importance *sampling* without replacement, the paper's sampler —
    `gumbel=False` degrades to hard top-k), and keep the `k` highest
    keys.  The top-k is an orderBy+limit, which Spark executes as
    TakeOrdered (per-partition heap + driver merge of k rows — no
    global sort at any corpus size).

    Noise is u = (md5_16('dsir:' || id) + 0.5) / 65536 →
    g = -ln(-ln(u)): content-independent, engine-portable, identical
    on every run/cluster-size — the same auditability property as
    `stratified_sample`.  Returns (id, source-ish passthroughs kept
    by caller via select) with dsir_logw + dsir_key."""
    lrs = dsir_logratios(df, target_df, n_buckets, n, text_col)
    scored = with_dsir_weight(df, lrs, n, text_col)
    if gumbel:
        hkey = tok_hash16(f"concat('dsir:', cast({id_col} AS string))")
        noise = f"round(-ln(-ln(({hkey} + 0.5d) / 65536.0d)), 6)"
    else:
        noise = "cast(0.0 AS double)"
    scored = scored.withColumn(
        "dsir_key", F.expr(f"round(dsir_logw + {noise}, 4)"))
    return (scored.orderBy(F.desc("dsir_key"), F.asc(id_col)).limit(k))


def curation_funnel(df: DataFrame, gates: list, dedup: bool = True,
                    eval_df: DataFrame = None, contam_n: int = 8,
                    text_col: str = "text", id_col: str = "doc_id",
                    return_kept: bool = False):
    """The curation FUNNEL — the per-stage retention report every
    FineWeb/RefinedWeb-style pipeline publishes next to its dataset:
    run the document pool through `gates` (ordered ``(name,
    bool_sql_expr)`` filters), then optionally exact dedup
    (keep-first by id among the docs that SURVIVED the gates — the
    dedup population is stage-relative, exactly like a sequential
    pipeline), then optionally n-gram decontamination against
    `eval_df`, and report one row per stage: (stage_idx, stage,
    n_in, n_kept, n_dropped).

    Scale shape: every gate is a narrow projection fused into one
    scan; the dedup winner is a min-over-window keyed on md5(text)
    (one corpus shuffle, partial-agg absorbed); decontamination is
    the broadcast gram join of `contamination_report`; the funnel
    itself aggregates doc-count rows into ≤ len(gates)+2 rows
    (eagerly localCheckpointed, so its two consumers — the stage join
    and the total — never re-run the corpus lineage), and the final
    cumulative window runs over THAT stage-sized frame (single
    partition of ~7 rows — not a data-sized sort).

    A gate predicate that evaluates to NULL (e.g. ``lang = 'en'`` on
    a NULL lang — ordinary dirty web data) counts as FAILED at that
    stage, matching what any downstream ``where(pred)`` would drop.

    ``return_kept=True`` returns ``(funnel_df, kept_df)`` where
    kept_df is the input rows that survived EVERY stage — the single
    source of truth for "what the funnel reported" vs "what ships"
    (jobs/curate_job.py uses this so the published report can never
    desynchronize from the written corpus)."""
    import functools
    stages = [n for n, _ in gates]
    d = df
    for i, (_, pred) in enumerate(gates):
        # coalesce: a NULL predicate (NULL input column) is a FAIL,
        # not a silent pass-through-to-kept
        d = d.withColumn(f"_g{i}",
                         F.expr(f"coalesce(({pred}), false)"))
    conds = [F.col(f"_g{i}") for i in range(len(gates))]
    if dedup:
        reach = functools.reduce(lambda a, b: a & b, conds)
        w = Window.partitionBy(F.md5(F.col(text_col)))
        d = d.withColumn(
            "_mid", F.min(F.when(reach, F.col(id_col))).over(w))
        d = d.withColumn(f"_g{len(conds)}",
                         F.col(id_col) == F.col("_mid"))
        conds.append(F.col(f"_g{len(conds)}"))
        stages.append("exact_dedup")
    if eval_df is not None:
        reach = functools.reduce(lambda a, b: a & b, conds)
        pool = d.where(reach).select(F.col(id_col).alias("doc_id"),
                                     F.col(text_col).alias("text"))
        bad = (contamination_report(pool, eval_df, contam_n)
               .select(F.col("doc_id").alias(id_col),
                       F.lit(True).alias("_contam")))
        d = d.join(bad, id_col, "left")
        d = d.withColumn(f"_g{len(conds)}",
                         F.expr("NOT coalesce(_contam, false)"))
        conds.append(F.col(f"_g{len(conds)}"))
        stages.append("decontaminate")
    ff = F.lit(len(conds))
    for i in range(len(conds) - 1, -1, -1):
        ff = F.when(~conds[i], F.lit(i)).otherwise(ff)
    counts = (d.select(ff.alias("_ff"))
              .groupBy("_ff").agg(F.count("*").alias("_c"))
              .localCheckpoint())  # ≤ n_stages+1 rows, computed ONCE
    spark = df.sparkSession
    stage_rows = spark.createDataFrame(
        [(i, s) for i, s in enumerate(stages)],
        "stage_idx int, stage string")
    wcum = (Window.orderBy("stage_idx")
            .rowsBetween(Window.unboundedPreceding, -1))
    funnel = (stage_rows
            .join(counts, stage_rows.stage_idx == counts._ff, "left")
            .join(F.broadcast(counts.agg(
                F.sum("_c").alias("_total"))))
            .withColumn("n_dropped",
                        F.expr("cast(coalesce(_c, 0) AS bigint)"))
            .withColumn("n_in", F.col("_total") - F.coalesce(
                F.sum("n_dropped").over(wcum), F.lit(0)))
            .withColumn("n_kept", F.col("n_in") - F.col("n_dropped"))
            .select("stage_idx", "stage", "n_in", "n_kept",
                    "n_dropped")
            .orderBy("stage_idx"))
    if return_kept:
        keep_all = functools.reduce(lambda a, b: a & b, conds)
        kept = d.where(keep_all).select(*df.columns)
        return funnel, kept
    return funnel


def with_normalized_text(df: DataFrame, text_col: str = "text",
                         form: str = "NFC",
                         collapse_ws: bool = True) -> DataFrame:
    """Unicode canonicalization — the standard first step of web-text
    curation (mojibake triage's constructive sibling): NFC/NFKC
    normalize, strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM), and
    collapse whitespace runs.  Adds ``norm_text``.

    Spark has no Unicode-normalization builtin, so the NFC step is a
    VECTORIZED pandas_udf (`Series.str.normalize` — Arrow-batched,
    one call per batch, not per row; the justified-Python-path
    exception, same class as the parse stage).  The zero-width strip
    and whitespace collapse stay JVM-side with an explicit ASCII
    class ([ \\t\\n\\r\\f], identical semantics in Java regex and
    RE2) so a DuckDB oracle (nfc_normalize + regexp_replace)
    reproduces the output byte-for-byte.  Narrow projection — no
    shuffle at any corpus size."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        return s.str.normalize(form)

    out = df.withColumn("norm_text", _norm(F.col(text_col)))
    # zero-width strip is UNCONDITIONAL (part of canonicalization);
    # four backslashes: Python → SQL-literal → Java-regex escape
    out = out.withColumn("norm_text", F.expr(
        "regexp_replace(norm_text, "
        "'[\\\\u200b\\\\u200c\\\\u200d\\\\ufeff]', '')"))
    if collapse_ws:
        out = out.withColumn("norm_text", F.expr(
            "trim(regexp_replace(norm_text, "
            "'[ \\\\t\\\\n\\\\r\\\\f]+', ' '))"))
    return out


def corpus_diff(old: DataFrame, new: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Dataset-version diff — the audit view between two corpus
    snapshots: per document id, whether it was ``added``, ``removed``,
    ``changed`` (same id, different content), or ``unchanged``.
    Returns (doc_id, status); aggregate downstream for the release
    note, or filter status != 'unchanged' for the incremental
    re-process list (only changed/added docs need re-extraction — the
    same resume economics as cache.py's anti-join, across dataset
    versions instead of runs).

    Scale shape: one full-outer equi-join on the id with both sides
    reduced to (id, content_key) projections first — the md5 collapses
    the payload BEFORE the shuffle, so the join moves 2×(id + 32 B)
    per doc, never document bytes."""
    o = old.select(F.col(id_col).alias("doc_id"),
                   F.md5(F.col(text_col)).alias("_ok"))
    n = new.select(F.col(id_col).alias("doc_id"),
                   F.md5(F.col(text_col)).alias("_nk"))
    return (o.join(n, "doc_id", "full_outer")
            .select("doc_id", F.expr(
                "CASE WHEN _ok IS NULL THEN 'added' "
                "WHEN _nk IS NULL THEN 'removed' "
                "WHEN _ok = _nk THEN 'unchanged' "
                "ELSE 'changed' END").alias("status")))


def split_corpus(df: DataFrame, val_frac: float = 0.01,
                 test_frac: float = 0.01, salt: str = "split",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment — content-independent
    (keyed on md5(salt || id), same first-16-bit arithmetic as
    `epoch_shard`), so every run, engine, and cluster size assigns
    every document to the SAME split, and changing `salt` re-rolls
    the assignment without touching the data.  Adds ``split``
    ('train'/'val'/'test').  Narrow projection — no shuffle, no
    sampling variance: the realized fractions converge to the
    requested ones by the uniformity of md5, and membership is
    auditable (recompute the hash, get the split)."""
    h = tok_hash16(f"concat('{salt}:', cast({id_col} AS string))")
    v = int(65536 * val_frac)
    t = int(65536 * test_frac)
    return df.withColumn("split", F.expr(
        f"CASE WHEN {h} < {v} THEN 'val' "
        f"WHEN {h} < {v + t} THEN 'test' ELSE 'train' END"))
