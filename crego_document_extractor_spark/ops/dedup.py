"""Deduplication operators for large-scale corpus curation.

All operators take a DataFrame with (doc_id: string, text: string) and
stay JVM-side (higher-order array functions + hash), so they scale as
ordinary shuffles:

* exact         — content-hash groupBy (the reference's SHA256 cache
                  key semantics, cache.py:28-30, as a dedup operator)
* MinHash + LSH — shingle → seeded-min signatures → banded bucket join
* SimHash       — per-bit token-hash majority vote
* n-gram Jaccard — exact token-set overlap for candidate verification
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .textstats import doc_lines, gram, gram_starts


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Groups of byte-identical texts (hash-groupBy)."""
    return (df.groupBy(F.sha2("text", 256).alias("content_key"))
            .agg(F.collect_list("doc_id").alias("doc_ids"),
                 F.count("*").alias("n"))
            .where("n > 1"))


def _minhash_scalar(df: DataFrame, n_hashes: int,
                    shingle_k: int) -> DataFrame:
    """(doc_id, h0..h{n-1}) — explode the window START POSITIONS, hash
    each k-token window in the codegen projection above the Generate,
    then n scalar ``min(...)`` aggregates.  Everything after the split
    is whole-stage codegen (Generate + Project + partial HashAggregate
    fuse into one stage, so the token array is a single per-input-row
    reference — no per-window copies), and the shuffle carries one
    (doc_id, n ints) row per doc per map task.

    r6 history, each step measured at sf1.0/50k docs (guide §1.2):
    the original spliced ``split(text,' ')`` INSIDE the window lambda
    re-tokenized the doc once per window position (10.5 s of the
    query's 12.5 s); binding the array and hashing windows in the
    lambda cut it to ~1.6 s; moving the window hash OUT of the
    interpreted lambda into the codegen projection over exploded
    positions halves it again (~0.9 s).  `array_distinct` on windows
    stays dropped — min() over duplicates equals min() over distinct.

    Each k-token window is fingerprinted once (k-argument murmur3 over
    its tokens) and the n seeded values derive from that int
    (``hash(h, seed)``) — the standard single-basis +
    per-permutation-mix construction (datasketch uses one SHA1 basis
    the same way)."""
    k = shingle_k
    toks = df.select("doc_id", F.split("text", " ").alias("toks"))
    pos = toks.select(
        "doc_id", "toks",
        F.explode(F.expr(gram_starts("size(toks)", k))).alias("i"))
    args = ", ".join("element_at(toks, i)" if j == 0 else
                     f"element_at(toks, i + {j})" for j in range(k))
    sh = pos.select("doc_id", F.expr(f"hash({args})").alias("h"))
    return sh.groupBy("doc_id").agg(
        *[F.min(F.expr(f"hash(h, {seed})")).alias(f"h{seed}")
          for seed in range(n_hashes)])


def minhash_signature(df: DataFrame, n_hashes: int = 16,
                      shingle_k: int = 3) -> DataFrame:
    """(doc_id, signature array<int>) — seeded murmur3 min over
    k-token shingles."""
    hs = _minhash_scalar(df, n_hashes, shingle_k)
    return hs.select(
        "doc_id",
        F.array(*[f"h{i}" for i in range(n_hashes)]).alias("signature"))


def band_index(df: DataFrame, n_hashes: int = 16, bands: int = 4,
               shingle_k: int = 3) -> DataFrame:
    """(doc_id, band, band_hash) — the persistable LSH band index of
    a corpus.  Band hashes come straight off the scalar min columns
    (codegen; bucket EQUALITY is what matters, not the hash
    formulation).  This is the artifact an incremental pipeline
    stores: dedup of tomorrow's batch joins against it instead of
    re-signing the whole corpus (`incremental_minhash_candidates`)."""
    rows_per_band = n_hashes // bands
    hs = _minhash_scalar(df, n_hashes, shingle_k)
    band_hashes = F.array(*[
        F.hash(*[F.col(f"h{b * rows_per_band + i}")
                 for i in range(rows_per_band)])
        for b in range(bands)])
    return hs.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash"))


def minhash_candidate_pairs(df: DataFrame, n_hashes: int = 16,
                            bands: int = 4, shingle_k: int = 3,
                            max_bucket: int = 256) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate
    pairs.  ONE extra shuffle (groupBy band bucket), pairs expanded
    from the sorted membership list.  Buckets larger than
    ``max_bucket`` are dropped — an over-full bucket is
    non-discriminative (hot-key skew protection: a degenerate bucket
    would otherwise emit O(bucket²) pairs at corpus scale)."""
    banded = band_index(df, n_hashes, bands, shingle_k)
    buckets = (banded.groupBy("band", "band_hash")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
               .where(f"size(ids) BETWEEN 2 AND {max_bucket}"))
    pairs = ("flatten(transform(ids, (x, i) -> "
             "transform(slice(ids, i + 2, 1000000000), "
             "y -> named_struct('d1', x, 'd2', y))))")
    return (buckets.select(F.explode(F.expr(pairs)).alias("p"))
            .select("p.d1", "p.d2")
            .distinct())


def simhash(df: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash bigint): bit b set when the majority of token
    hashes have bit b set.

    r6 optimization (two layers, guide §1.2/§4.1): the old form put
    the token split and per-token hash() INSIDE the per-bit lambda, so
    each document was split and murmur3-hashed `bits` times over, and
    the per-bit majority votes ran as interpreted HOF filters.  Now
    the tokens explode straight off the split (Generate + the hash
    projection + the partial aggregate fuse into one codegen stage —
    no interpreted lambda anywhere) and the per-bit counts are scalar
    ``sum((h >> b) & 1)`` aggregates with map-side combine (the
    `_minhash_scalar` shape: the shuffle carries one slim count row
    per doc per map task).  Identical hash inputs, identical majority
    rule → bit-identical signatures; 12.3 s → 1.9 s (interpreted
    transform) → 1.1 s (codegen explode) at sf1.0/50k docs."""
    t = (df.select("doc_id",
                   F.explode(F.split("text", " ")).alias("tok"))
         .select("doc_id", F.expr("hash(tok)").alias("h")))
    agg = t.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"c{b}")
          for b in range(bits)])
    sim = " + ".join(f"(CASE WHEN c{b} * 2 > n THEN shiftleft(1L, {b}) "
                     f"ELSE 0L END)" for b in range(bits))
    return agg.select("doc_id", F.expr(sim).alias("simhash"))


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3,
                            bits: int = 32,
                            n_bands: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: band the hash into `n_bands` disjoint
    bit-chunks and bucket-join on (band, chunk) — the pigeonhole
    guarantee: two hashes within Hamming distance h < n_bands must
    agree EXACTLY on at least one chunk, so recall is 1.0 for
    h <= n_bands - 1 (default n_bands = max_hamming + 1) while the
    join only compares same-chunk docs (O(n²/2^chunk_bits) per band
    instead of the full cross join).  Exact Hamming verify JVM-side."""
    if n_bands is None:
        n_bands = max_hamming + 1
    chunk = max(1, bits // n_bands)
    s = simhash(df, bits=bits)
    banded = s.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.expr(f"(simhash >> {t * chunk}) & {(1 << chunk) - 1}")
            for t in range(n_bands)])).alias("band", "block"))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.block") == F.col("b.block")) &
                      (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"),
                    F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        same_key: str | None = None,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact token-set Jaccard via explode + self-join (verification
    stage after LSH candidate generation).

    Pass ``candidates`` (d1, d2) — e.g. the MinHash/SimHash candidate
    pairs — to verify ONLY those: the token self-join is restricted to
    candidate members and the result is semi-joined back to the pairs.
    Without it the all-pairs shared-token join is quadratic in the
    count of docs sharing one hot token — fine for a sampled slice,
    a skew bomb at corpus scale (always compose with an LSH stage
    there)."""
    if candidates is not None:
        members = (candidates.select(F.col("d1").alias("doc_id"))
                   .unionByName(candidates.select(F.col("d2").alias("doc_id")))
                   .distinct())
        df = df.join(members, "doc_id", "left_semi")
    d = df.select("doc_id",
                  *( [same_key] if same_key else [] ),
                  F.array_distinct(F.split("text", " ")).alias("toks"))
    t = d.select("doc_id", *( [same_key] if same_key else [] ),
                 F.explode("toks").alias("tok"))
    sizes = d.select("doc_id", F.expr("size(toks)").alias("n"))
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if same_key:
        cond = cond & (F.col(f"a.{same_key}") == F.col(f"b.{same_key}"))
    pairs = (t.alias("a").join(t.alias("b"), cond)
             .groupBy(F.col("a.doc_id").alias("d1"),
                      F.col("b.doc_id").alias("d2"))
             .agg(F.count("*").alias("common")))
    if candidates is not None:
        pairs = pairs.join(candidates.select("d1", "d2"), ["d1", "d2"],
                           "left_semi")
    return (pairs
            .join(sizes.withColumnRenamed("doc_id", "d1")
                  .withColumnRenamed("n", "n1"), "d1")
            .join(sizes.withColumnRenamed("doc_id", "d2")
                  .withColumnRenamed("n", "n2"), "d2")
            .withColumn("jaccard", F.expr("common / (n1 + n2 - common)"))
            .where(F.col("jaccard") >= threshold)
            .select("d1", "d2", "jaccard"))


def embedding_near_duplicates(df: DataFrame, threshold: float = 0.9,
                              bits: int = 4, n_tables: int = 8,
                              dim: int = 64, id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from
    signed-random-projection LSH buckets (only same-bucket pairs are
    scored — O(N²/2^bits) per table instead of the full cross join),
    verified with exact JVM cosine ≥ threshold.  Same scale shape as
    MinHash banding: bucket groupBy, bounded fan-out, exact verify."""
    from .similarity import cosine_pre, lsh_tables

    b = lsh_tables(df, "id", "vd", "nv", n_tables, bits, dim,
                   id_col, vec_col)
    a, c = b.alias("a"), b.alias("b")
    cand = (a.join(c, (F.col("a.tbl") == F.col("b.tbl")) &
                      (F.col("a.bucket") == F.col("b.bucket")) &
                      (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("d1"), F.col("a.vd").alias("v1"),
                    F.col("a.nv").alias("n1"),
                    F.col("b.id").alias("d2"), F.col("b.vd").alias("v2"),
                    F.col("b.nv").alias("n2"))
            .distinct())
    return (cand.withColumn("sim", F.expr(cosine_pre("v1", "v2",
                                                     "n1", "n2")))
            .where(F.col("sim") >= threshold)
            .select("d1", "d2", F.round("sim", 6).alias("sim")))


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Near-dup pairs (d1, d2) → connected components:
    (doc_id, cluster_id) with cluster_id = the MINIMUM doc id
    reachable in the pair graph — the canonical-representative rule
    every dedup pipeline needs once pairwise candidates exist (keep
    one doc per cluster, drop the rest).

    Iterative min-label propagation: labels start as each node's own
    id; every round each node takes min(own label, neighbours'
    labels); converges in O(graph diameter) rounds — near-dup
    components are overwhelmingly tiny (pairs/triples), so 2-3 rounds
    settle real corpora, with ``max_iter`` bounding adversarial
    chains.  Each round is one broadcast-free shuffle join on the
    (small) label table, with early stop when a round changes
    nothing; ``localCheckpoint`` truncates the iterative lineage so
    the plan does not grow unboundedly (the classic iterative-Spark
    trap).  At corpus scale the label table is one slim
    (id, label) row per UNIQUE doc in any pair — orders of magnitude
    smaller than the corpus."""
    edges = (pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
             .unionByName(pairs.select(F.col("d2").alias("u"),
                                       F.col("d1").alias("v")))
             .distinct())
    labels = (edges.select(F.col("u").alias("id"))
              .distinct()
              .withColumn("label", F.col("id")))
    for _ in range(max_iter):
        neigh = (edges.join(labels.withColumnRenamed("id", "v"), "v")
                 .groupBy(F.col("u").alias("id"))
                 .agg(F.min("label").alias("nlabel")))
        new = (labels.join(neigh, "id", "left")
               .select("id", F.least("label", F.coalesce("nlabel", "label"))
                       .alias("label"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.withColumnRenamed("label", "old"), "id")
                   .where("label != old").limit(1).count())
        labels = new
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def keep_canonical(df: DataFrame, clusters: DataFrame,
                   quality_col: str = None,
                   id_col: str = "doc_id") -> DataFrame:
    """Collapse each near-dup cluster to ONE surviving document — the
    consumption step after `duplicate_clusters`.

    Canonical rule: highest ``quality_col`` wins (ties → smallest id);
    without a quality column, the cluster label itself (= minimum
    reachable id) picks, so docs outside any cluster pass through
    UNTOUCHED by a left join — no rank work for the unclustered
    majority.  Scale shape: `clusters` is one slim row per doc that
    appears in any pair (orders smaller than the corpus), so AQE
    resolves the left join broadcast; the per-cluster argmax is a
    max_by over the small clustered slice only."""
    cl = clusters.withColumnRenamed("doc_id", id_col)
    joined = df.join(cl, id_col, "left")
    if quality_col is None:
        return (joined
                .where(F.col("cluster_id").isNull() |
                       (F.col(id_col) == F.col("cluster_id")))
                .drop("cluster_id"))
    # quality-aware: pick argmax(quality, then -id) inside each cluster
    best = (joined.where(F.col("cluster_id").isNotNull())
            .groupBy("cluster_id")
            .agg(F.max(F.struct(F.col(quality_col).alias("q"),
                                (-F.col(id_col)).alias("negid")))
                 .alias("b"))
            .select("cluster_id",
                    (-F.col("b.negid")).alias("_keep_id")))
    return (joined.join(best, "cluster_id", "left")
            .where(F.col("cluster_id").isNull() |
                   (F.col(id_col) == F.col("_keep_id")))
            .drop("cluster_id", "_keep_id"))


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-GLOBAL paragraph deduplication, keep-first semantics
    (the exact-substring dedup of Lee et al. 2022 at paragraph
    granularity, as used by CCNet/RefinedWeb): every normalized
    paragraph keeps exactly ONE occurrence corpus-wide — the
    lexicographically-smallest (doc_id, position) — and all other
    copies are removed; each document's surviving paragraphs are
    reassembled in their original order.

    Differs from `curation.remove_boilerplate_lines` (which drops ALL
    copies of high-frequency lines): dedup preserves the content once.

    Paragraph = trimmed non-blank line (textstats.doc_lines — the same
    normalization the boilerplate census uses).

    Returns (doc_id, text, n_paragraphs, n_dropped) — one row per
    input document, including documents whose every paragraph was
    dropped or that had no paragraphs at all.

    Scale shape: explode → census groupBy(para) with map-side-combined
    min/count → the census keeps ONLY paragraphs seen more than once →
    sort-merge join back on the paragraph → per-doc regroup.  Three
    linear shuffles; no step is quadratic.  Skew: a mega-duplicated
    paragraph is one hot join key — run remove_boilerplate_lines first
    to strip ubiquitous lines, and AQE skew-join splits the remainder.
    """
    # bind the line array once (r6): spliced into both size() and the
    # posexplode, the split+trim+filter pipeline ran twice per row
    e = (df.select(F.col(id_col).alias("doc_id"),
                   F.expr(doc_lines(text_col)).alias("_ps"))
         .select("doc_id",
                 F.expr("size(_ps)").alias("n_paragraphs"),
                 F.posexplode_outer("_ps").alias("pos0", "para"))
         .withColumn("pos", F.expr("pos0 + 1")).drop("pos0")
         .withColumn("pkey", F.expr(
             "concat(doc_id, ':', lpad(cast(pos AS string), 9, '0'))")))
    census = (e.where("para IS NOT NULL")
              .groupBy("para")
              .agg(F.min("pkey").alias("_w"), F.count("*").alias("_n"))
              .where("_n > 1")
              .drop("_n"))
    j = (e.join(census, "para", "left")
         .withColumn("keep", F.expr(
             "para IS NOT NULL AND (_w IS NULL OR pkey = _w)")))
    return (j.groupBy("doc_id")
            .agg(F.max("n_paragraphs").alias("n_paragraphs"),
                 F.expr("array_join(transform(array_sort(collect_list("
                        "CASE WHEN keep THEN struct(pos, para) END)), "
                        "x -> x.para), '\\n')").alias(text_col),
                 F.expr("cast(count(CASE WHEN keep THEN 1 END) AS int)")
                 .alias("_n_kept"))
            .withColumn("n_dropped", F.expr("n_paragraphs - _n_kept"))
            .drop("_n_kept"))


def remove_duplicated_windows(df: DataFrame, n: int = 8,
                              min_docs: int = 2,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Exact-substring deduplication at token-window granularity
    (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better", §3 ExactSubstr, with the suffix-array scan
    re-expressed relationally): any n-token window that appears in
    >= `min_docs` documents keeps exactly ONE instance corpus-wide —
    the smallest (doc_id, start) — and every token covered by any
    OTHER instance of a duplicated window is removed; each document's
    surviving tokens are reassembled in order.

    Granularity sits between `paragraph_dedup` (whole lines) and
    `curation.duplicate_ngram_report` (which only MEASURES the dup
    rate): this op edits the text.  A token inside the keeper instance
    of one window can still be removed if a different duplicated
    window's non-keeper instance covers it (overlap rule — documented,
    deterministic, and mirrored by the oracle).

    Returns (doc_id, text, n_tokens, n_tokens_removed) — one row per
    input document (empty-text rows survive).

    Scale shape: windows explode (n× token volume) → census
    hash-aggregate keyed by gram (map-side combined; only grams with
    >= min_docs distinct docs survive) → join back duplicated
    instances only (contamination-sized, not corpus-sized) → coverage
    positions distinct → anti-join against the token table → per-doc
    ordered regroup.  All shuffles linear; the hot key (a ubiquitous
    boilerplate window) is bounded by running
    `curation.remove_boilerplate_lines` first plus AQE skew-join.
    At a real 100 TB the census would shard the gram by
    `substr(md5(gram), 1, 2)` prefix — the groupBy key is already the
    gram hash under the hood, so no code change, only partition count.
    """
    toks = f"filter(split({text_col}, '\\\\s+'), t -> t != '')"
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.expr(toks).alias("toks"))
            .withColumn("n_tokens", F.expr("size(toks)")))
    # explode the window START POSITIONS and build the gram in the
    # codegen projection above the Generate (r6, the `_minhash_scalar`
    # pattern): no interpreted transform lambda, no per-doc
    # array<struct> materialization
    inst = (base.select("doc_id", "toks", F.explode(F.expr(
                gram_starts("n_tokens", n))).alias("start"))
            .select("doc_id", "start",
                    F.expr(gram("toks", "start", n)).alias("gram"))
            .withColumn("ikey", F.expr(
                "concat(lpad(cast(doc_id AS string), 12, '0'), ':', "
                "lpad(cast(start AS string), 9, '0'))")))
    census = (inst.groupBy("gram")
              .agg(F.countDistinct("doc_id").alias("_nd"),
                   F.min("ikey").alias("_keeper"))
              .where(f"_nd >= {min_docs}")
              .drop("_nd"))
    covered = (inst.join(census, "gram")
               .where("ikey != _keeper")
               .select("doc_id", F.explode(F.expr(
                   f"sequence(start, start + {n} - 1)")).alias("pos"))
               .distinct())
    tokpos = (base.select("doc_id",
                          F.posexplode("toks").alias("pos0", "tok"))
              .withColumn("pos", F.expr("pos0 + 1")).drop("pos0"))
    rebuilt = (tokpos.join(covered, ["doc_id", "pos"], "left_anti")
               .groupBy("doc_id")
               .agg(F.expr("array_join(transform(array_sort("
                           "collect_list(struct(pos, tok))), "
                           "x -> x.tok), ' ')").alias("_text"),
                    F.expr("cast(count(*) AS int)").alias("_n_kept")))
    return (base.select("doc_id", "n_tokens")
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.expr(f"coalesce(_text, '')").alias(text_col),
                    "n_tokens",
                    F.expr("n_tokens - coalesce(_n_kept, 0)")
                    .alias("n_tokens_removed")))


def semantic_dedup(items: DataFrame, n_cells: int = 8,
                   threshold: float = 0.9, n_iter: int = 0,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   quality_col: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication of an
    embedding column — cluster the space coarsely, find ε-similar
    pairs WITHIN each cluster, and keep one representative per
    connected component.

    Composition of the engine's existing primitives, which is exactly
    how the paper computes it:

    1. coarse codebook — `similarity.ivf_train` (`n_iter` Lloyd
       steps) or the deterministic `ivf_centroids` draw when
       ``n_iter=0``;
    2. cell assignment — the literal-codebook codegen projection
       (`ivf_cells_expr`): a narrow map, NO shuffle;
    3. within-cell cosine pairs ≥ `threshold` — an equi-join on the
       cell id; the quadratic is bounded per cell (the SemDeDup
       design point: n_cells grows with the corpus so cells stay
       ~constant-sized), never corpus-wide;
    4. components — `duplicate_clusters` min-label propagation;
    5. survivors — `keep_canonical` (quality argmax, else the
       min-id cluster label itself; the unclustered majority passes
       through a left join untouched).

    Returns the surviving rows of `items` with their ``cell``."""
    from .similarity import (ivf_centroids, ivf_train, ivf_cells_expr,
                             with_norm, cosine_pre)
    cents = (ivf_train(items, n_cells, n_iter, id_col, vec_col)
             if n_iter else
             ivf_centroids(items, n_cells, id_col, vec_col))
    asg = items.withColumn(
        "cell", F.expr(ivf_cells_expr(cents, vec_col, 1))[0])
    # pre-cast + per-side norm once (r6): the within-cell quadratic
    # scored both norm folds per pair through cosine_expr
    asn = with_norm(asg, vec_col, "_vd", "_nv")
    a = asn.select(F.col("cell").alias("_c"),
                   F.col(id_col).alias("d1"),
                   F.col("_vd").alias("_v1"), F.col("_nv").alias("_n1"))
    b = asn.select(F.col("cell").alias("_c"),
                   F.col(id_col).alias("d2"),
                   F.col("_vd").alias("_v2"), F.col("_nv").alias("_n2"))
    pairs = (a.join(b, "_c")
             .where(F.col("d1") < F.col("d2"))
             .where(F.expr(f"{cosine_pre('_v1', '_v2', '_n1', '_n2')} >= "
                           f"{float(threshold)!r}d"))
             .select("d1", "d2"))
    clusters = duplicate_clusters(pairs)
    return keep_canonical(asg, clusters, quality_col, id_col=id_col)


def incremental_exact(batch: DataFrame, history: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup — the shape a 10^12-doc pipeline
    actually runs: dedup TODAY'S batch against the stored content-key
    index of everything already ingested, never re-hashing the
    corpus.  `history` is the key index (a `content_key` column of
    sha2-256 hex; pass any prior output of this function, or build it
    once with ``df.select(sha2(text, 256))``).  Returns the batch
    rows that are (a) unseen in history and (b) first within the
    batch (min id per key), WITH their `content_key` so the caller
    appends exactly these keys to the index — the idempotent-resume
    property: re-running the same batch yields the same survivors.

    Scale shape: batch-internal keep-first is a min-over-window on
    the key (shuffles the BATCH, not the corpus); the history probe
    is a LEFT ANTI equi-join on the key — history is the big side of
    a join it never has to materialize in memory (sort-merge /
    AQE-broadcast of the *batch* when it is the small side)."""
    keyed = batch.withColumn("content_key",
                             F.sha2(F.col(text_col), 256))
    w = Window.partitionBy("content_key")
    first = (keyed.withColumn("_mid", F.min(id_col).over(w))
             .where(F.col(id_col) == F.col("_mid")).drop("_mid"))
    # no .distinct() on the history side (r5 ADVICE): left-anti probes
    # key EXISTENCE, so deduplicating the corpus-sized index first
    # only added a full index shuffle+aggregate per batch
    return first.join(history.select("content_key"),
                      "content_key", "left_anti")


def incremental_minhash_candidates(batch: DataFrame,
                                   history_index: DataFrame,
                                   n_hashes: int = 16, bands: int = 4,
                                   shingle_k: int = 3,
                                   max_bucket: int = 256) -> DataFrame:
    """Incremental NEAR-dup screening: band today's batch
    (`band_index` on the batch only) and equi-join against the stored
    corpus band index — (batch_id, history_id) candidate pairs,
    without re-signing a single historical document.  Feed the pairs
    to `ngram_jaccard_pairs(candidates=...)` for exact verification,
    exactly like the full-corpus path (q_dedup_minhash_e2e proves
    that composition's recall; this function reuses the identical
    signature/banding code via `band_index`).

    Skew: a bucket whose HISTORY side exceeds `max_bucket` members is
    non-discriminative and dropped — same hot-key guard as
    `minhash_candidate_pairs`, applied to the stored index side."""
    hist = (history_index.groupBy("band", "band_hash")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("hids"))
            .where(f"size(hids) <= {max_bucket}"))
    b = band_index(batch, n_hashes, bands, shingle_k)
    return (b.join(hist, ["band", "band_hash"])
            .select(F.col("doc_id").alias("batch_id"),
                    F.explode("hids").alias("history_id"))
            .where("batch_id != history_id")
            .distinct())


def minhash_jaccard_estimate(pairs: DataFrame,
                             signatures: DataFrame) -> DataFrame:
    """Jaccard ESTIMATE from MinHash signatures — the cheap middle
    rung of the dedup ladder (bands → estimate → exact verify): for
    each candidate pair, the fraction of matching signature
    positions, an unbiased estimator of the true shingle Jaccard
    with s.e. ~ 1/sqrt(n_hashes).  Use it to triage band candidates
    BEFORE the token-level `ngram_jaccard_pairs` verify — at corpus
    scale the signatures (n ints/doc) are orders cheaper to join
    than re-tokenizing documents.

    Scale shape: two equi-joins of the pair list against the
    signature table (pair-count-sized, AQE-broadcast when small) and
    a zip_with codegen fold — no corpus access at all."""
    s1 = signatures.select(F.col("doc_id").alias("d1"),
                           F.col("signature").alias("_s1"))
    s2 = signatures.select(F.col("doc_id").alias("d2"),
                           F.col("signature").alias("_s2"))
    return (pairs.join(s1, "d1").join(s2, "d2")
            .withColumn("est_jaccard", F.expr(
                "round(size(filter(zip_with(_s1, _s2, (a, b) -> a = b), "
                "x -> x)) / cast(size(_s1) AS double), 4)"))
            .drop("_s1", "_s2"))
