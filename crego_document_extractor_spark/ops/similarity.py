"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the query
  set, score with JVM higher-order expressions (no Python), window
  top-k.
* LSH-bucketed ANN (random signed projections) — the scale path: only
  candidates sharing a hash bucket are scored; probes = multiple
  tables.  At 100 TB the bucket join replaces the O(Q×N) cross join
  with O(Q×N/2^bits) per table.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), "
       "0.0d, (acc, v) -> acc + v)")
NORM = "sqrt(aggregate({a}, 0.0d, (acc, v) -> acc + cast(v AS double) * cast(v AS double)))"

#: pre-cast-double variants (r6): when a side's vectors are scored
#: against MANY partners, cast the array and take its norm ONCE PER
#: SIDE before the join — `cosine_expr` inlines both norm folds (and
#: the per-element casts) into the scored projection, re-running them
#: per pair.  Same element order, same double arithmetic: values are
#: bit-identical to `cosine_expr`.
TO_D = "transform({v}, x -> cast(x AS double))"
NORM_D = "sqrt(aggregate({v}, 0.0d, (acc, x) -> acc + x * x))"
DOT_D = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"


def cosine_expr(a: str, b: str) -> str:
    na, nb = NORM.format(a=a), NORM.format(a=b)
    d = DOT.format(a=a, b=b)
    return (f"(CASE WHEN {na} = 0.0d OR {nb} = 0.0d THEN 0.0d "
            f"ELSE {d} / ({na} * {nb}) END)")


def cosine_pre(a: str, b: str, na: str, nb: str) -> str:
    """cosine over pre-cast double arrays with precomputed norms —
    bit-identical to `cosine_expr` (same zero-norm rule, same op
    order), only the per-pair work shrinks to the dot product."""
    d = DOT_D.format(a=a, b=b)
    return (f"(CASE WHEN {na} = 0.0d OR {nb} = 0.0d THEN 0.0d "
            f"ELSE {d} / ({na} * {nb}) END)")


def with_norm(df: DataFrame, src_col: str, vec_alias: str,
               norm_alias: str) -> DataFrame:
    """Append the pre-cast double array + its norm for one side."""
    return (df.withColumn(vec_alias, F.expr(TO_D.format(v=src_col)))
            .withColumn(norm_alias, F.expr(NORM_D.format(v=vec_alias))))


def _score_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The top-k tail of every search: score the (query_id, qv, nq,
    cand_id, cv, nc) pairs by cosine and keep each query's `k` best
    (ties → smallest cand_id)."""
    scored = pairs.withColumn("sim", F.expr(cosine_pre("qv", "cv",
                                                       "nq", "nc")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "cand_id", "rank",
                    F.round("sim", 6).alias("sim")))


def brute_force_topk(items: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query (queries broadcast; norms
    precomputed per side — r6)."""
    q = with_norm(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("_q0")),
                  "_q0", "qv", "nq").drop("_q0")
    c = with_norm(items.select(F.col(id_col).alias("cand_id"),
                               F.col(vec_col).alias("_c0")),
                  "_c0", "cv", "nc").drop("_c0")
    return _score_topk(c.join(F.broadcast(q)).where("query_id != cand_id"),
                       k)


def _rand_proj_bits(vec_col: str, dim: int, bits: int, table_seed: int) -> str:
    """Signed-random-projection bucket id: bit j = sign(v · r_j) with a
    deterministic pseudo-random hyperplane r_j derived from
    xxhash-style integer mixing (no stored projection matrix)."""
    terms = []
    for j in range(bits):
        # pseudo-random ±1 weights per (table, bit, dimension)
        proj = (f"aggregate(zip_with({vec_col}, "
                f"sequence(0, {dim - 1}), (v, i) -> "
                f"CASE WHEN (xxhash64(i * 2654435761 + {table_seed * bits + j})) % 2 = 0 "
                f"THEN cast(v AS double) ELSE -cast(v AS double) END), "
                f"0.0d, (a, x) -> a + x)")
        terms.append(f"(CASE WHEN {proj} >= 0.0d THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_tables(df: DataFrame, id_as: str, vec_as: str, norm_as: str,
               n_tables: int, bits: int, dim: int,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """One row per (vector, hash table): (`id_as`, tbl, bucket,
    `vec_as`, `norm_as`) — the bucket union that LSH search and
    near-dup detection join on, with the vector pre-cast to double and
    its norm taken once per row (r6: scored per bucket pair)."""
    tables = [df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).alias("_v0"),
        F.lit(t).alias("tbl"),
        F.expr(_rand_proj_bits(vec_col, dim, bits, t)).alias("bucket"))
        for t in range(n_tables)]
    return with_norm(functools.reduce(DataFrame.unionByName, tables),
                     "_v0", vec_as, norm_as).drop("_v0")


def lsh_topk(items: DataFrame, queries: DataFrame, k: int = 10,
             bits: int = 8, n_tables: int = 2, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only bucket-sharing candidates across
    `n_tables` independent hash tables."""
    q = lsh_tables(queries, "query_id", "qv", "nq", n_tables, bits, dim,
                   id_col, vec_col)
    c = lsh_tables(items, "cand_id", "cv", "nc", n_tables, bits, dim,
                   id_col, vec_col)
    return _score_topk(q.join(c, ["tbl", "bucket"])
                       .where("query_id != cand_id")
                       .select("query_id", "qv", "nq", "cand_id", "cv", "nc")
                       .distinct(), k)


def _lit_vec(vals) -> str:
    return "array(" + ", ".join(f"{float(v)!r}d" for v in vals) + ")"


def ivf_cells_expr(centroids, vec_col: str, n_cells_out: int) -> str:
    """SQL: the `n_cells_out` nearest coarse cells for `vec_col`,
    ordered nearest-first — an array of cell ids.  `centroids` is a
    list of (cell_id, vector); they are baked in as LITERAL arrays so
    assignment is a pure projection (whole-stage codegen, NO shuffle,
    no broadcast round-trip) — the right shape when the corpus is
    10^12 rows and the coarse codebook is a few hundred cells."""
    cells = ", ".join(
        f"named_struct('cell', {cid}, 'sim', {cosine_expr(vec_col, _lit_vec(v))})"
        for cid, v in centroids)
    ranked = (f"array_sort(array({cells}), (l, r) -> "
              f"CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1 "
              f"WHEN l.cell < r.cell THEN -1 ELSE 1 END)")
    return (f"transform(slice({ranked}, 1, {n_cells_out}), c -> c.cell)")


def ivf_centroids(items: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic coarse codebook: the `n_cells` vectors ranked
    first by (md5(id), id) — a content-independent uniform draw that
    every run and cluster size reproduces (same device as
    curation.stratified_sample).  The collect is bounded metadata
    (n_cells rows), like the broadcast KB in ops/rag.  A production
    variant would run a few Lloyd iterations (groupBy(cell).avg) to
    tighten cells; the probe/assign plumbing is identical."""
    rows = (items
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n_cells)
            .select(vec_col)
            .collect())
    return [(i, list(r[0])) for i, r in enumerate(rows)]


def ivf_train(items: DataFrame, n_cells: int = 16, n_iter: int = 3,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """Lloyd-refined coarse codebook: seed with `ivf_centroids`, then
    `n_iter` k-means steps.  Each step is ONE distributed pass —
    assign every vector to its nearest cell (the same literal-codebook
    codegen projection `ivf_topk` uses, no shuffle) and reduce to
    per-cell mean vectors with posexplode(vec) → groupBy(cell, dim)
    hash aggregate (map-side partial sums; shuffle size = n_cells ×
    dim, independent of corpus size).  The driver only ever holds the
    codebook itself (n_cells × dim floats) — bounded metadata, like
    the seeding collect.  Empty cells keep their previous centroid so
    the codebook size is stable."""
    cents = ivf_centroids(items, n_cells, id_col, vec_col)
    for _ in range(n_iter):
        # cell materializes BEFORE the explode — listed in the same
        # select it would sit in the Project above Generate and be
        # re-evaluated once per vector element (round-3 pitfall)
        assigned = (items
                    .withColumn("cell",
                                F.expr(ivf_cells_expr(cents, vec_col, 1))[0])
                    .select("cell",
                            F.posexplode(F.col(vec_col)).alias("dim", "x")))
        means = (assigned.groupBy("cell", "dim")
                 .agg(F.avg("x").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                      .alias("dm"))
                 .collect())
        new = {r["cell"]: [d["m"] for d in r["dm"]] for r in means}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents


def ivf_topk(items: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids=None) -> DataFrame:
    """IVF (inverted-file) ANN: assign every item to its nearest
    coarse cell, probe the `nprobe` nearest cells per query, score
    exactly only inside probed cells.

    Scale shape: item assignment is a narrow literal-codebook
    projection; queries (small) explode to nprobe rows and are
    **broadcast**, so the candidate generation is a broadcast-hash
    equi-join on cell id — the only shuffle is the per-query top-k
    window over candidates (|items| × nprobe / n_cells rows, not
    |items| × |queries|)."""
    cents = centroids or ivf_centroids(items, n_cells, id_col, vec_col)
    it = with_norm(
        items.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_c0"),
            F.expr(ivf_cells_expr(cents, vec_col, 1))[0].alias("cell")),
        "_c0", "cv", "nc").drop("_c0")
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q0"),
            F.explode(F.expr(ivf_cells_expr(cents, vec_col, nprobe)))
            .alias("cell")),
        "_q0", "qv", "nq").drop("_q0")
    return _score_topk(it.join(F.broadcast(q), "cell")
                       .where("query_id != cand_id"), k)

