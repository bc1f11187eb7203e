"""Training-data-pipeline operators: dedup, similarity search, text
analysis, multimodal plumbing."""

import pytest
from pyspark.sql import Row, functions as F

from crego_document_extractor_spark.ops import dedup, similarity, textstats, multimodal


@pytest.fixture(scope="module")
def text_df(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),      # exact dup of d1
        ("d3", "the quick brown fox leaps over the lazy dog"),      # near dup
        ("d4", "completely different content about spark engines"),
        ("d5", "der schnelle braune fuchs und die faule katze und"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(text_df):
    groups = dedup.exact_duplicates(text_df).collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == ["d1", "d2"]


def test_minhash_finds_near_dups(text_df):
    pairs = {(r["d1"], r["d2"]) for r in
             dedup.minhash_candidate_pairs(text_df, n_hashes=16, bands=16,
                                           shingle_k=1).collect()}
    assert ("d1", "d2") in pairs          # identical docs always collide
    assert ("d1", "d3") in pairs or ("d2", "d3") in pairs  # near dup
    assert ("d1", "d4") not in pairs


def test_simhash_near_duplicates(text_df):
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(text_df).collect()}
    assert s["d1"] == s["d2"]
    ham_13 = bin(s["d1"] ^ s["d3"]).count("1")
    ham_14 = bin(s["d1"] ^ s["d4"]).count("1")
    assert ham_13 < ham_14


def test_ngram_jaccard(text_df):
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(text_df, threshold=0.5).collect()}
    assert pairs[("d1", "d2")] == 1.0
    assert ("d1", "d3") in pairs  # 8/10 shared distinct tokens


def test_brute_force_topk_vs_numpy(spark):
    import numpy as np
    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 16).astype("float32")
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(30)])
    got = similarity.brute_force_topk(df, df.where("vec_id < 3"), k=5)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"]))
    v = vecs.astype("float64")
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] *
                        np.linalg.norm(v, axis=1)[None, :])
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i != q][:5]
        assert [c for _, c in sorted(got_map[q])] == order


def test_lsh_topk_recall(spark):
    import numpy as np
    rng = np.random.RandomState(1)
    base = rng.randn(100, 64).astype("float32")
    # plant exact near-neighbors
    base[50] = base[0] + rng.randn(64).astype("float32") * 0.01
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(100)])
    got = similarity.lsh_topk(df, df.where("vec_id = 0"), k=5, bits=6, n_tables=4)
    neighbors = [r["cand_id"] for r in got.orderBy("rank").collect()]
    assert 50 in neighbors  # the planted near-dup must be found


def test_lsh_topk_recall_gate_clustered(spark):
    """Recall@10 >= 0.7 on CLUSTERED embeddings — the data shape LSH is
    designed for (the near-random driver embeddings are its worst
    case; q_lsh_ann_recall documents that).  8 centers, 25 points per
    cluster with sigma=0.15, 5 query points: true neighbors live in
    the same cluster, so signed-random-projection buckets keep them
    together."""
    import numpy as np
    rng = np.random.RandomState(7)
    centers = rng.randn(8, 64) * 3.0
    pts = np.vstack([c + rng.randn(25, 64) * 0.15 for c in centers])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in pts[i]])
         for i in range(len(pts))])
    q = df.where("vec_id IN (0, 25, 50, 75, 100)")
    exact = similarity.brute_force_topk(df, q, k=10)
    approx = similarity.lsh_topk(df, q, k=10, bits=6, n_tables=8)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["cand_id"])
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["cand_id"])
    recalls = [len(truth[k] & got.get(k, set())) / 10.0 for k in truth]
    assert min(recalls) >= 0.7, recalls


def test_textstats_profile(spark):
    df = spark.createDataFrame(
        [("d1", "the quick brown fox and the lazy dog went to the market"),
         ("d2", "x")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.profile(df).collect()}
    assert out["d1"]["lang_guess"] == "en"
    assert out["d1"]["n_tokens"] == 12
    assert out["d1"]["stopword_ratio"] > 0.2
    assert out["d1"]["quality_score"] >= 0.75
    assert out["d2"]["quality_score"] <= 0.5
    assert isinstance(out["d1"]["fingerprint"], int)
    # fingerprint is order-sensitive
    df2 = spark.createDataFrame(
        [("r", "dog lazy the and fox brown quick the")], ["doc_id", "text"])
    fp2 = textstats.with_fingerprint(df2).collect()[0]["fingerprint"]
    assert fp2 != out["d1"]["fingerprint"]


def test_multimodal_plumbing(spark):
    rows = [
        Row(doc_id="d1", media_ref="img:1", media_kind="image",
            payload=bytes(range(64)), meta={"fmt": "raw"}),
        Row(doc_id="d1", media_ref="img:2", media_kind="image",
            payload=bytes(range(64)), meta={"fmt": "raw"}),  # dup payload
        Row(doc_id="d2", media_ref="aud:1", media_kind="audio",
            payload=b"\x01\x02\x03", meta={}),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = {r["media_ref"]: r for r in
             multimodal.extract_media_features(media).collect()}
    assert feats["img:1"]["n_bytes"] == 64
    assert feats["img:1"]["content_key"] == feats["img:2"]["content_key"]
    assert feats["img:1"]["width"] > 0 and feats["img:1"]["height"] > 0
    assert len(feats["aud:1"]["feature"]) == 8
    dups = multimodal.media_dedup_keys(media).collect()
    assert len(dups) == 1 and dups[0]["n"] == 2


def test_minhash_signature_matches_hof_formulation(text_df):
    """The explode/scalar-agg signature must equal the direct
    higher-order formulation (array_min over transform) value-for-value."""
    from pyspark.sql import functions as F

    got = {r["doc_id"]: list(r["signature"]) for r in
           dedup.minhash_signature(text_df, n_hashes=8, shingle_k=2).collect()}
    # single-basis construction: fingerprint each 2-token window as a
    # k-argument murmur3 over its tokens, derive each seeded value
    # from the window int (matches _minhash_scalar)
    sig = ("array(" + ", ".join(
        f"array_min(transform(sh, h -> hash(h, {seed})))"
        for seed in range(8)) + ")")
    sh = ("transform(sequence(1, greatest(size(split(text, ' ')) - 1, 0)), "
          "i -> hash(element_at(split(text, ' '), i), "
          "element_at(split(text, ' '), i + 1)))")
    exp_df = (text_df.withColumn("sh", F.expr(sh)).where("size(sh) > 0")
              .select("doc_id", F.expr(sig).alias("signature")))
    exp = {r["doc_id"]: list(r["signature"]) for r in exp_df.collect()}
    assert got == exp


def test_embedding_near_duplicates_finds_planted_dups(spark):
    """LSH-bucketed embedding near-dup: planted near-identical vectors
    must be found; verified pairs must equal the exact cosine filter
    over its own candidates (no false positives)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64).astype("float64")
    rows = [(i, base[i].tolist()) for i in range(40)]
    # plant 5 near-duplicates of vectors 0..4 (tiny perturbation)
    for j in range(5):
        rows.append((100 + j, (base[j] + 0.01 * rng.randn(64)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["d1"], r["d2"]): r["sim"] for r in
           dedup.embedding_near_duplicates(df, threshold=0.95).collect()}
    for j in range(5):
        assert (j, 100 + j) in got and got[(j, 100 + j)] > 0.99
    # exact check: every returned pair really is >= threshold
    vecs = {i: v for i, v in rows}
    for (a, b), s in got.items():
        va, vb = np.array(vecs[a]), np.array(vecs[b])
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert cos >= 0.95 and abs(cos - s) < 1e-5


def test_lsh_floor_detects_total_breakage(spark):
    """r4 ADVICE (medium): the dedup-e2e safety net must not mask a
    dead LSH stage — `lsh_nonvacuous` goes FALSE when verified pairs
    exist but the candidate generator returned none of them."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    ver = spark.createDataFrame([(1, 2, 0.9), (3, 4, 0.85)],
                                "d1 int, d2 int, jaccard double")
    empty = ver.where("d1 < 0").select("d1", "d2")
    out = E._with_lsh_floor(ver, empty).collect()
    assert len(out) == 2 and all(r["lsh_nonvacuous"] is False for r in out)

    partial = spark.createDataFrame([(3, 4)], "d1 int, d2 int")
    out = E._with_lsh_floor(ver, partial).collect()
    assert all(r["lsh_nonvacuous"] is True for r in out)

    # nothing to recover -> vacuously fine AND empty either way
    assert E._with_lsh_floor(ver.where("d1 < 0"), empty).count() == 0


def test_duplicate_clusters_min_label(spark):
    """Connected components over near-dup pairs: cluster_id is the
    minimum reachable doc id; chains, triangles, and isolated pairs
    all resolve; convergence is iteration-order independent."""
    from crego_document_extractor_spark.ops.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4),        # chain 1-2-3-4 -> cluster 1
         (10, 11), (11, 10),            # pair (+ reverse dup)
         (20, 21), (21, 22), (20, 22)], # triangle
        "d1 int, d2 int")
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_pack_sequences_offsets_and_ranges(spark):
    """Token-budget packing: shard = floor(start_offset/budget) within
    a value-based id range; oversized docs own their start shard;
    different ranges pack independently."""
    from crego_document_extractor_spark.ops.pack import (
        pack_sequences, shard_manifest)

    rows = [(1, "a b c"),            # 3 tokens, offset 0  -> shard 0
            (2, "d e f g"),          # 4 tokens, offset 3  -> shard 0
            (3, " ".join(["x"] * 10)),  # 10 tokens, offset 7 -> shard 0 (oversized)
            (4, "h"),                # offset 17 -> shard 2
            (1001, "p q")]           # other range, offset 0 -> shard 0
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["rng"], r["shard"], r["n_tokens"])
           for r in pack_sequences(df, budget_tokens=8).collect()}
    assert got == {1: (0, 0, 3), 2: (0, 0, 4), 3: (0, 0, 10),
                   4: (0, 2, 1), 1001: (1, 0, 2)}
    man = {(r["rng"], r["shard"]): (r["n_docs"], r["n_tokens"])
           for r in shard_manifest(
               pack_sequences(df, budget_tokens=8)).collect()}
    assert man[(0, 0)] == (3, 17) and man[(1, 0)] == (1, 2)


def test_stratified_sample_deterministic_topk(spark):
    """Per-stratum deterministic sample: same rows regardless of
    partitioning; exactly k per stratum; rank matches the md5 order."""
    from crego_document_extractor_spark.ops.curation import stratified_sample

    rows = [(i, f"s{i % 3}", f"text {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    a = {(r["doc_id"], r["sample_rank"])
         for r in stratified_sample(df, 5).collect()}
    b = {(r["doc_id"], r["sample_rank"])
         for r in stratified_sample(df.repartition(13), 5).collect()}
    assert a == b and len(a) == 15
    import hashlib
    exp = set()
    for s in range(3):
        ids = sorted((hashlib.md5(str(i).encode()).hexdigest(), i)
                     for i in range(60) if i % 3 == s)[:5]
        exp |= {(i, rk + 1) for rk, (_, i) in enumerate(ids)}
    assert a == exp


def test_redact_pii_counts_and_rewrites(spark):
    from crego_document_extractor_spark.ops.curation import redact_pii

    rows = [(1, "reach me at a.b+1@test.io or 9876543210 thanks"),
            (2, "no pii here, just 1234 and 123456789012345 long"),
            (3, "two mails x@y.zz and q.r@s.tt")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_pii"], r["redacted"]) for r in redact_pii(df).collect()}
    assert got[1] == (2, "reach me at [EMAIL] or [PHONE] thanks")
    assert got[2][0] == 0 and got[2][1] == rows[1][1]
    assert got[3] == (2, "two mails [EMAIL] and [EMAIL]")


def test_repetition_stats_dup_lines(spark):
    """Doc-local Gopher repetition signals: exact fractions on a
    hand-computed fixture; blank lines ignored; shuffle-free plan."""
    from crego_document_extractor_spark.ops.textstats import (
        with_repetition_stats)

    rows = [(1, "aa bb\ncc dd\naa bb\n\nee"),   # 4 lines, 'aa bb' x2
            (2, "one\ntwo\nthree"),             # no repetition
            (3, "")]                            # degenerate
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_lines"], r["dup_line_frac"],
                         r["dup_line_char_frac"])
           for r in with_repetition_stats(df).collect()}
    # doc 1: lines [aa bb, cc dd, aa bb, ee]; 3 distinct of 4;
    # dup chars = 5+5 of 5+5+5+2=17
    assert got[1] == (4, 0.25, round(10 / 17, 4))
    assert got[2] == (3, 0.0, 0.0)
    assert got[3] == (0, 0.0, 0.0)
    plan = with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow projection, no shuffle


def test_ngram_topk_counts(spark):
    from crego_document_extractor_spark.ops.textstats import ngram_topk

    rows = [(1, "a b a b c"), (2, "a b x")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = [(r["gram"], r["n_occurrences"], r["n_docs"])
           for r in ngram_topk(df, n=2, k=3).collect()]
    # bigrams doc1: a b, b a, a b, b c; doc2: a b, b x
    assert got[0] == ("a b", 3, 2)
    assert set(got[1:]) == {("b a", 1, 1), ("b c", 1, 1)} or got[1][1] == 1


def test_contamination_report_and_drop(spark):
    """Only docs sharing an n-gram with the eval set are reported;
    drop_contaminated removes exactly those."""
    from crego_document_extractor_spark.ops.curation import (
        contamination_report, drop_contaminated)

    evald = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(1, "prefix what is the capital of france paris obviously suffix"),
         (2, "unrelated text about spark shuffles and joins here"),
         (3, "what is the capital of france lyon maybe not sure")],
        "doc_id int, text string")
    rep = {r["doc_id"]: r["n_contam_grams"]
           for r in contamination_report(corpus, evald, n=8).collect()}
    assert set(rep) == {1}          # doc 3 shares only a 7-gram
    assert rep[1] >= 1
    kept = {r["doc_id"] for r in
            drop_contaminated(corpus, evald, n=8).collect()}
    assert kept == {2, 3}


def test_epoch_shard_deterministic_and_uniform(spark):
    """Shard/key reproduce hashlib.md5 exactly; partitioning-invariant;
    different seeds give different permutations."""
    import hashlib
    from crego_document_extractor_spark.ops.curation import epoch_shard

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    got = {r["doc_id"]: (r["shard"], r["shuffle_key"])
           for r in epoch_shard(df, n_shards=8, seed=3).collect()}
    for i in (0, 7, 123, 199):
        key = hashlib.md5(f"3:{i}".encode()).hexdigest()
        assert got[i] == (int(key[:4], 16) % 8, key)
    again = {r["doc_id"]: (r["shard"], r["shuffle_key"])
             for r in epoch_shard(df.repartition(7), n_shards=8,
                                  seed=3).collect()}
    assert got == again
    other = {r["doc_id"]: r["shuffle_key"]
             for r in epoch_shard(df, n_shards=8, seed=4).collect()}
    assert sorted(got, key=lambda i: got[i][1]) != \
        sorted(other, key=lambda i: other[i])


def test_ivf_topk_matches_brute_force_with_full_probe(spark):
    """With nprobe == n_cells IVF degenerates to exact search — the
    correctness anchor; with fewer probes it returns a subset ranked
    identically."""
    import random
    from crego_document_extractor_spark.ops.similarity import (
        brute_force_topk, ivf_topk)

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id < 3")
    bf = {(r["query_id"], r["rank"]): r["cand_id"]
          for r in brute_force_topk(df, q, k=5).collect()}
    full = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in ivf_topk(df, q, k=5, n_cells=4, nprobe=4).collect()}
    assert bf == full
    part = ivf_topk(df, q, k=5, n_cells=4, nprobe=2)
    sims = {r["query_id"]: [] for r in part.collect()}
    for r in part.orderBy("query_id", "rank").collect():
        sims[r["query_id"]].append(r["sim"])
    for s in sims.values():   # ranked descending within each query
        assert s == sorted(s, reverse=True)


def test_mix_by_source_quotas_and_determinism(spark):
    """Per-source quotas follow the weights; selection reproduces
    hashlib md5 ranking; unknown sources are dropped."""
    import hashlib
    from crego_document_extractor_spark.ops.curation import mix_by_source

    rows = [(i, "web" if i < 60 else ("books" if i < 90 else "junk"))
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_by_source(df, {"web": 3.0, "books": 1.0}, budget=40).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["web"]) == 30 and len(by_src["books"]) == 10
    assert "junk" not in by_src
    exp_web = sorted((i for i in range(60)),
                     key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                    i))[:30]
    assert sorted(by_src["web"]) == sorted(exp_web)
    again = mix_by_source(df.repartition(7), {"web": 3.0, "books": 1.0},
                          budget=40).collect()
    assert sorted((r["source"], r["doc_id"]) for r in again) == \
        sorted((r["source"], r["doc_id"]) for r in out)


def test_model_quality_score_matches_python(spark):
    """The served linear model reproduces a pure-Python evaluation of
    the same hash weights; empty text degrades to sigmoid(bias)."""
    import hashlib
    import math
    from crego_document_extractor_spark.ops.textstats import (
        with_model_quality_score)

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) / 65535.0 - 0.5

    rows = [(1, "The quick Brown fox"), (2, "spark   shuffle"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["model_n_tokens"], r["model_quality_score"])
           for r in with_model_quality_score(df, bias=0.5).collect()}
    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        mean_w = sum(w(t) for t in toks) / max(len(toks), 1)
        exp = round(1.0 / (1.0 + math.exp(-(0.5 + 8.0 * mean_w))), 6)
        assert got[doc_id] == (len(toks), exp), doc_id
    plan = with_model_quality_score(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # narrow projection, no shuffle


def test_remove_boilerplate_lines(spark):
    """Lines in >= min_docs distinct docs are stripped everywhere,
    order of survivors preserved, in-doc repeats don't inflate the
    census, and a census-free corpus passes through normalized."""
    from crego_document_extractor_spark.ops.curation import (
        boilerplate_lines, remove_boilerplate_lines)

    rows = [(1, "accept cookies\nreal content one\naccept cookies"),
            (2, "accept cookies\nreal content two"),
            (3, "  accept cookies  \nunique line"),
            (4, "totally original")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    census = {r["line"]: r["n_docs"]
              for r in boilerplate_lines(df, min_docs=3).collect()}
    assert census == {"accept cookies": 3}  # doc 1's repeat counts once
    got = {r["doc_id"]: (r["text"], r["n_removed_lines"])
           for r in remove_boilerplate_lines(df, min_docs=3).collect()}
    assert got[1] == ("real content one", 2)
    assert got[2] == ("real content two", 1)
    assert got[3] == ("unique line", 1)
    assert got[4] == ("totally original", 0)
    clean = remove_boilerplate_lines(df, min_docs=99).collect()
    assert all(r["n_removed_lines"] == 0 for r in clean)


def test_ivf_train_lloyd_converges(spark):
    """On two planted clusters, one Lloyd pass lands one centroid in
    each cluster (mean of assigned members); codebook size is stable
    even with empty cells; refined centroids keep full-probe exactness."""
    import random
    from crego_document_extractor_spark.ops.similarity import (
        brute_force_topk, ivf_topk, ivf_train)

    rnd = random.Random(5)
    rows = []
    for i in range(60):
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + rnd.uniform(-0.05, 0.05) for _ in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_train(df, n_cells=2, n_iter=2)
    assert len(cents) == 2 and all(len(v) == 4 for _, v in cents)
    signs = sorted(1 if sum(v) > 0 else -1 for _, v in cents)
    assert signs == [-1, 1]          # one centroid per planted cluster
    for _, v in cents:               # tight: every dim near +-1
        assert all(abs(abs(x) - 1.0) < 0.1 for x in v)
    q = df.where("vec_id < 2")
    bf = {(r["query_id"], r["rank"]): r["cand_id"]
          for r in brute_force_topk(df, q, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in ivf_topk(df, q, k=3, n_cells=2, nprobe=2,
                              centroids=cents).collect()}
    assert bf == full


def test_mix_by_source_window_group_limit_plan(spark):
    """The split rank filter keeps Catalyst's WindowGroupLimit prune
    (a literal limit is required for it) — the property that bounds
    per-source shuffle volume at corpus scale."""
    from crego_document_extractor_spark.ops.curation import mix_by_source

    df = spark.createDataFrame([(i, f"s{i % 3}") for i in range(30)],
                               "doc_id long, source string")
    plan = mix_by_source(df, {"s0": 2.0, "s1": 1.0}, budget=9)._jdf \
        .queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_encoding_flags(spark):
    """Mojibake digraphs, replacement chars, and non-printable ratio
    are counted exactly; clean ASCII passes."""
    from crego_document_extractor_spark.ops.textstats import (
        with_encoding_flags)

    rows = [(1, "cafÃ© menu â€™tis"),  # Ã© + â€™
            (2, "plain ascii text"),
            (3, "bad � byte �"),
            (4, "tab\tand\nnewline ok")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_mojibake"], r["n_replacement"],
                         r["encoding_ok"])
           for r in with_encoding_flags(df).collect()}
    assert got[1][0] >= 2 and not got[1][2]
    assert got[2] == (0, 0, True)
    assert got[3] == (0, 2, False)
    assert got[4] == (0, 0, True)
    plan = with_encoding_flags(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_corpus_scorecard(spark):
    """Per-source aggregate over the lang/quality profile; all
    averaged quantities exactly representable."""
    from crego_document_extractor_spark.ops.textstats import (
        corpus_scorecard)

    en = "the cat sat on the mat and the dog ran to the park"
    de = "der hund und die katze und der vogel"
    rows = [(1, "a", en), (2, "a", en), (3, "a", de), (4, "b", en)]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = {r["source"]: (r["n_docs"], r["en_share"], r["avg_tokens"])
           for r in corpus_scorecard(df).collect()}
    assert got["a"][0] == 3 and abs(got["a"][1] - round(2 / 3, 4)) < 1e-9
    assert got["a"][2] == round((13 + 13 + 8) / 3, 2)
    assert got["b"] == (1, 1.0, 13.0)


def test_keep_canonical(spark):
    """Cluster collapse: min-id rule without quality, argmax rule with;
    unclustered docs always pass through."""
    from crego_document_extractor_spark.ops.dedup import keep_canonical

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1), (9, 0.4)],
        "doc_id long, q double")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long")
    kept = {r["doc_id"] for r in keep_canonical(docs, clusters).collect()}
    assert kept == {1, 7, 9}
    kept_q = {r["doc_id"]
              for r in keep_canonical(docs, clusters,
                                      quality_col="q").collect()}
    assert kept_q == {2, 7, 9}   # 0.9 tie between 2 and 3 -> smaller id


def test_paragraph_dedup_keep_first(spark):
    from crego_document_extractor_spark.ops.dedup import paragraph_dedup
    rows = [
        ("a1", "alpha one\nshared footer line\nalpha two"),
        ("a2", "beta one\nshared footer line\nbeta two"),
        ("a3", "shared footer line"),            # every para is a later dup
        ("a4", ""),                              # no paragraphs at all
        ("a5", "gamma\ngamma\ngamma unique"),    # within-doc repeat dedups too
    ]
    out = {r["doc_id"]: r for r in paragraph_dedup(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert len(out) == 5                          # every doc survives
    # keep-first: the footer stays only at its smallest (doc_id, pos)
    assert out["a1"]["text"] == "alpha one\nshared footer line\nalpha two"
    assert out["a1"]["n_dropped"] == 0
    assert out["a2"]["text"] == "beta one\nbeta two"
    assert out["a2"]["n_dropped"] == 1
    assert out["a3"]["text"] == "" and out["a3"]["n_dropped"] == 1
    assert out["a4"]["text"] == "" and out["a4"]["n_paragraphs"] == 0
    assert out["a5"]["text"] == "gamma\ngamma unique"
    assert out["a5"]["n_dropped"] == 1


def test_paragraph_dedup_vs_python_oracle(spark):
    """Property-style cross-check on a generated corpus."""
    import random
    from crego_document_extractor_spark.ops.dedup import paragraph_dedup
    rng = random.Random(7)
    vocab = ["lorem", "ipsum", "dolor", "sit", "amet"]
    rows = []
    for i in range(40):
        paras = [" ".join(rng.choices(vocab, k=rng.randint(1, 4)))
                 for _ in range(rng.randint(0, 6))]
        rows.append((f"doc-{i:03d}", "\n".join(paras)))
    # python oracle: global keep-first on (doc_id, pos)
    seen = {}
    for doc_id, text in rows:
        ps = [p.strip() for p in text.split("\n") if p.strip()]
        for pos, p in enumerate(ps, start=1):
            key = f"{doc_id}:{pos:09d}"
            if p not in seen or key < seen[p]:
                seen[p] = key
    expected = {}
    for doc_id, text in rows:
        ps = [p.strip() for p in text.split("\n") if p.strip()]
        kept = [p for pos, p in enumerate(ps, start=1)
                if seen[p] == f"{doc_id}:{pos:09d}"]
        expected[doc_id] = ("\n".join(kept), len(ps), len(ps) - len(kept))
    got = {r["doc_id"]: (r["text"], r["n_paragraphs"], r["n_dropped"])
           for r in paragraph_dedup(
               spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert got == expected


def test_duplicate_ngram_report(spark):
    from crego_document_extractor_spark.ops.curation import (
        duplicate_ngram_report)
    shared = "one two three four"
    rows = [
        ("d1", shared + " tail alpha"),
        ("d2", shared + " tail beta"),
        ("d3", "five six seven eight nine"),
        ("d4", "shorty"),                        # < n tokens: no grams, no crash
        # one doc_id on two rows: counts pool over its rows, and each
        # row's grams count as one document in the census
        ("d5", "red green blue yellow"),
        ("d5", "red green blue yellow black"),
    ]
    got = duplicate_ngram_report(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        n=4, min_docs=2).collect()
    assert len(got) == len(rows)
    # d5: 1 + 2 grams; "red green blue yellow" is in both rows, so it is
    # duplicated, and counted once per row
    assert [(r["n_grams"], r["n_dup_grams"], r["dup_ratio"])
            for r in got if r["doc_id"] == "d5"] == [(3, 2, 2 / 3)] * 2
    out = {r["doc_id"]: r for r in got}
    # d1/d2 share TWO 4-grams: "one two three four", "two three four tail"
    assert out["d1"]["n_grams"] == 3 and out["d1"]["n_dup_grams"] == 2
    assert out["d2"]["n_dup_grams"] == 2
    assert abs(out["d1"]["dup_ratio"] - 2 / 3) < 1e-12
    assert out["d3"]["n_dup_grams"] == 0
    assert out["d4"]["n_grams"] == 0 and out["d4"]["dup_ratio"] == 0.0


def test_ngram_windows_survive_short_docs(spark):
    """sequence(1, 0) is DESCENDING in Spark — every windowed-gram
    helper must CASE-guard or it crashes on sub-n-token docs."""
    from crego_document_extractor_spark.ops.dedup import (
        minhash_signature, simhash)
    from crego_document_extractor_spark.ops.textstats import ngram_topk
    from crego_document_extractor_spark.ops.curation import (
        contamination_report)
    df = spark.createDataFrame(
        [("s1", "one two"), ("s2", ""), ("s3", "x"),
         ("s4", "one two three four")], ["doc_id", "text"])
    # shingle-less docs get NO signature row (nothing to hash) — the
    # guard's job is that they don't crash the whole stage
    sigs = minhash_signature(df, n_hashes=4, shingle_k=3).collect()
    assert [r["doc_id"] for r in sigs] == ["s4"]
    assert simhash(df).count() == 4
    assert ngram_topk(df, n=5, k=3).count() == 0
    assert contamination_report(df, df.limit(1), n=8).count() == 0


def test_bpe_train_matches_python_oracle(spark):
    """Distributed BPE merge training (ops/tokenizer.bpe_train)
    reproduces a pure-Python BPE trainer exactly: same merge list
    (greedy argmax with count-desc, pair-asc tie-break) and same final
    word segmentations."""
    from collections import Counter
    from crego_document_extractor_spark.ops import tokenizer

    texts = ["low lower lowest low low",
             "new newer newest new lower",
             "wide wider widest new low"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")

    # -- pure-python oracle ------------------------------------------
    wc = Counter(t for s in texts for t in s.lower().split())
    syms = {w: list(w) for w in wc}

    def census():
        c = Counter()
        for w, n in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += n
        return c

    exp_merges = []
    for _ in range(6):
        c = census()
        if not c:
            break
        pair, cnt = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < 2:
            break
        exp_merges.append(pair)
        a, b = pair
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out

    merges, words = tokenizer.bpe_train(df, n_merges=6)
    assert merges == exp_merges
    got = {r["word"]: (r["symbols"], r["n_occurrences"])
           for r in words.collect()}
    assert got == {w: (syms[w], wc[w]) for w in wc}


def test_bpe_pair_census_and_quote_safety(spark):
    """pair_census counts weighted adjacent pairs; apply_merge is safe
    for symbols containing SQL quote characters."""
    from crego_document_extractor_spark.ops import tokenizer

    df = spark.createDataFrame([(1, "ab ab ba it's")],
                               "doc_id int, text string")
    words = tokenizer.word_census(df)
    top = tokenizer.pair_census(words, k=1).collect()[0]
    assert (top["pair_left"], top["pair_right"],
            top["n_occurrences"]) == ("a", "b", 2)  # the 2 'ab' words
    merged = {r["word"]: r["symbols"] for r in
              tokenizer.apply_merge(words, "'", "s").collect()}
    assert merged["it's"] == ["i", "t", "'s"]


def test_remove_duplicated_windows(spark):
    """Exact-substring window dedup: the smallest (doc_id, start)
    instance of a cross-doc duplicated n-gram survives, every other
    instance's tokens are removed, unique text is untouched, and
    empty/short docs survive as rows."""
    from crego_document_extractor_spark.ops.dedup import (
        remove_duplicated_windows)

    shared = "alpha beta gamma delta"       # 4-token duplicated span
    rows = [(1, f"intro one {shared} tail one"),
            (2, f"intro two {shared} tail two"),
            (3, f"{shared}"),
            (4, "totally unique content here"),
            (5, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in
           remove_duplicated_windows(df, n=4, min_docs=2).collect()}
    # doc 1 holds the keeper instance (smallest doc_id:start) — intact
    assert got[1]["text"] == rows[0][1]
    assert got[1]["n_tokens_removed"] == 0
    # doc 2 shares TWO overlapping windows with doc 1 ("alpha beta
    # gamma delta" and "beta gamma delta tail") — union coverage is
    # positions 3-7, so "tail" goes too
    assert got[2]["text"] == "intro two two"
    assert got[2]["n_tokens_removed"] == 5
    assert got[3]["text"] == ""
    assert got[3]["n_tokens_removed"] == 4
    assert got[4]["text"] == rows[3][1]
    assert got[4]["n_tokens_removed"] == 0
    assert got[5]["text"] == "" and got[5]["n_tokens"] == 0
    assert set(got) == {1, 2, 3, 4, 5}


def test_remove_duplicated_windows_vs_python_oracle(spark):
    """Property check on a seeded corpus with overlapping duplicated
    windows: Spark output equals a direct python evaluation of the
    documented rule (union of non-keeper duplicated-window coverage)."""
    import random
    from crego_document_extractor_spark.ops.dedup import (
        remove_duplicated_windows)

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    shared_a = ["s1", "s2", "s3"]
    shared_b = ["s2", "s3", "s4"]       # overlaps shared_a
    texts = {}
    for d in range(20):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 9))]
        if d % 3 == 0:
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + shared_a + toks[pos:]
        if d % 4 == 0:
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + shared_b + toks[pos:]
        texts[d] = toks

    n, min_docs = 3, 2
    inst = []                          # (gram, doc, start[1-based])
    for d, toks in texts.items():
        for i in range(len(toks) - n + 1):
            inst.append((" ".join(toks[i:i + n]), d, i + 1))
    from collections import defaultdict
    by_gram = defaultdict(list)
    for g, d, s in inst:
        by_gram[g].append((d, s))
    removed = defaultdict(set)
    for g, occ in by_gram.items():
        if len({d for d, _ in occ}) < min_docs:
            continue
        keeper = min(occ, key=lambda ds: (f"{ds[0]:012d}", f"{ds[1]:09d}"))
        for d, s in occ:
            if (d, s) != keeper:
                removed[d].update(range(s, s + n))
    exp = {}
    for d, toks in texts.items():
        kept = [t for i, t in enumerate(toks, 1) if i not in removed[d]]
        exp[d] = (" ".join(kept), len(toks), len(toks) - len(kept))

    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in texts.items()],
        "doc_id int, text string")
    got = {r["doc_id"]: (r["text"], r["n_tokens"], r["n_tokens_removed"])
           for r in remove_duplicated_windows(df, n=n,
                                              min_docs=min_docs).collect()}
    assert got == exp


def test_train_quality_classifier_matches_numpy(spark):
    """Distributed full-batch logistic GD reproduces a numpy
    implementation of the same iterations exactly (same hashed
    features, same update rule), and the learned model separates a
    token-signal labelling."""
    import hashlib
    import numpy as np
    from crego_document_extractor_spark.ops.textstats import (
        hashed_features, train_quality_classifier)

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        y = i % 2
        # class vocabularies land in DISJOINT md5%4 buckets (2 vs 1),
        # so the hashed features make the classes linearly separable
        base = ["fine", "great", "excellent"] if y else ["noise", "terrible"]
        toks = [base[int(rng.integers(len(base)))] for _ in range(8)]
        rows.append((i, " ".join(toks), y))
    df = spark.createDataFrame(rows, "doc_id int, text string, label int")

    dim, n_iter, lr = 4, 3, 2.0

    def feats(text):
        toks = [t for t in text.lower().split() if t]
        x = np.zeros(dim)
        for t in toks:
            x[int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % dim] += 1
        return x / max(len(toks), 1)

    X = np.array([feats(t) for _, t, _ in rows])
    Y = np.array([y for _, _, y in rows], dtype=float)
    w, b = np.zeros(dim), 0.0
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(b + X @ w)))
        w = w - lr * ((p - Y)[:, None] * X).mean(axis=0)
        b = b - lr * (p - Y).mean()

    gw, gb = train_quality_classifier(df, dim=dim, n_iter=n_iter, lr=lr)
    assert np.allclose(gw, w, atol=1e-12) and abs(gb - b) < 1e-12

    # the served model separates the two classes
    fx = hashed_features(df, dim=dim)
    dot = " + ".join(f"({gw[j]!r}d * element_at(x, {j + 1}))"
                     for j in range(dim))
    scored = fx.withColumn("p", F.expr(
        f"1.0d / (1.0d + exp(-({gb!r}d + {dot})))"))
    agg = scored.groupBy("label").agg(F.avg("p").alias("mp")).collect()
    mp = {r["label"]: r["mp"] for r in agg}
    assert mp[1] > mp[0] + 0.1


def test_semantic_dedup(spark):
    """SemDeDup composition: within-cell ε-similar components keep
    one representative (min id, or quality argmax when given);
    isolated vectors pass through."""
    rows = [
        (1, [1.0, 0.0, 0.0], 0.1),
        (2, [0.999, 0.04, 0.0], 0.9),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], 0.5),
        (4, [0.02, 0.999, 0.0], 0.2),   # near-dup of 3
        (5, [0.0, 0.0, 1.0], 0.3),      # isolated
    ]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, quality double")
    kept = {r["vec_id"] for r in
            dedup.semantic_dedup(df, n_cells=1, threshold=0.95).collect()}
    assert kept == {1, 3, 5}            # min-id survivor per component
    keptq = {r["vec_id"] for r in
             dedup.semantic_dedup(df, n_cells=1, threshold=0.95,
                                  quality_col="quality").collect()}
    assert keptq == {2, 3, 5}           # quality argmax flips cluster 1


def test_bpe_encode_roundtrip(spark):
    """Serving a trained BPE model over the training corpus
    reproduces the final training segmentations exactly (encode's
    greedy per-merge fold == apply_merge's fold), with per-doc piece
    concatenation in token order.  Both split words on Java's \\s
    only: NBSP, EM SPACE, NEL and U+001C (whitespace to Python's
    str.split) stay inside words."""
    import re

    from crego_document_extractor_spark.ops import tokenizer

    texts = ["low lower lowest low low",
             "new newer newest new lower",
             "wide wider widest new low",
             "low\u00a0lower new\u2003wide\tlow\u0085new\u001clow"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")
    merges, words = tokenizer.bpe_train(df, n_merges=6)
    seg = {r["word"]: list(r["symbols"]) for r in words.collect()}
    got = {r["doc_id"]: (list(r["bpe_pieces"]), r["n_bpe_pieces"])
           for r in tokenizer.bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        exp = [p for tok in re.split("[ \t\n\x0b\f\r]+", t.lower())
               if tok for p in seg[tok]]
        assert got[i] == (exp, len(exp)), i
    # unseen text still encodes (characters + any applicable merges)
    df2 = spark.createDataFrame([(9, "lowly")], "doc_id int, text string")
    enc = tokenizer.bpe_encode(df2, merges).collect()[0]
    assert "".join(enc["bpe_pieces"]) == "lowly"


def test_ngram_lm_perplexity_matches_python(spark):
    """Bigram LM training + add-one-smoothed scoring reproduces a
    direct python computation (BOS framing, context counts, vocab
    smoothing); empty docs survive with lm_n_scored=0."""
    import math
    from collections import Counter
    from crego_document_extractor_spark.ops.textstats import (
        ngram_lm_train, with_perplexity)

    texts = {1: "the cat sat on the mat",
             2: "the cat ran",
             3: "a dog sat",
             4: ""}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id int, text string")
    uni, bi, stats = ngram_lm_train(df)

    # -- python oracle ----------------------------------------------
    def bigrams(t):
        toks = t.lower().split()
        return [("<s>" if i == 0 else toks[i - 1], toks[i])
                for i in range(len(toks))]

    cbi = Counter(bg for t in texts.values() for bg in bigrams(t))
    cctx = Counter()
    for (w1, _), c in cbi.items():
        cctx[w1] += c
    vocab = len({w for t in texts.values() for w in t.lower().split()})
    exp = {}
    for d, t in texts.items():
        bgs = bigrams(t)
        if not bgs:
            exp[d] = (0, None, None)
            continue
        lps = [math.log((cbi[bg] + 1) / (cctx[bg[0]] + vocab))
               for bg in bgs]
        avg = sum(lps) / len(lps)
        exp[d] = (len(bgs), round(avg, 6), round(math.exp(-avg), 6))

    got = {r["doc_id"]: (r["lm_n_scored"], r["lm_avg_logp"],
                         r["lm_perplexity"])
           for r in with_perplexity(df, bi, stats).collect()}
    assert got == exp
    # trained stats are what the oracle used
    s = stats.collect()[0]
    assert s["vocab_size"] == vocab


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR (curation.dsir_select): docs sharing the target's
    vocabulary must out-rank docs from a disjoint vocabulary, the
    weights must be reproducible run-to-run (deterministic noise),
    and gumbel=False must equal plain top-k by logw."""
    from crego_document_extractor_spark.ops.curation import (
        dsir_logratios, dsir_select, with_dsir_weight)
    target = spark.createDataFrame(
        [Row(doc_id=1000 + i,
             text="alpha beta gamma delta alpha beta gamma delta")
         for i in range(4)])
    raw = spark.createDataFrame(
        [Row(doc_id=i,
             text=("alpha beta gamma delta " * 4 if i % 2 == 0
                   else "zeta eta theta iota " * 4).strip())
         for i in range(20)])
    picked = dsir_select(raw, target, k=10, n_buckets=32, n=2,
                         gumbel=False)
    ids = [r.doc_id for r in picked.collect()]
    # hard top-10 of 20 docs, half target-like: exactly the evens
    assert sorted(ids) == [i for i in range(20) if i % 2 == 0]
    # weights separate the two populations
    lrs = dsir_logratios(raw, target, n_buckets=32, n=2)
    w = {r.doc_id: r.dsir_logw
         for r in with_dsir_weight(raw, lrs, n=2).collect()}
    assert min(w[i] for i in range(0, 20, 2)) > max(
        w[i] for i in range(1, 20, 2))
    # gumbel path: deterministic across runs
    g1 = [(r.doc_id, r.dsir_key) for r in
          dsir_select(raw, target, k=5, n_buckets=32, n=2).collect()]
    g2 = [(r.doc_id, r.dsir_key) for r in
          dsir_select(raw, target, k=5, n_buckets=32, n=2).collect()]
    assert g1 == g2


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """tf-idf (textstats.tfidf_topk): a corpus-wide stopword must
    rank BELOW a distinctive term even at higher tf, ranks are dense
    1..k per doc, and ties break lexicographically."""
    from crego_document_extractor_spark.ops.textstats import tfidf_topk
    df = spark.createDataFrame([
        Row(doc_id=0, text="the the the zebra the quark"),
        Row(doc_id=1, text="the apple apple banana"),
        Row(doc_id=2, text="the banana cherry"),
        Row(doc_id=3, text="the date elder cherry"),
    ])
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {0, 1, 2, 3}
    for rows in by_doc.values():
        assert [r.rank for r in
                sorted(rows, key=lambda r: r.rank)] == [1, 2]
    # doc 0: 'the' has tf 4 but df 4 → idf ln(5/5)=0; the two
    # singleton terms (df 1, idf ln(5/2)) must outrank it
    d0 = sorted(by_doc[0], key=lambda r: r.rank)
    assert [r.term for r in d0] == ["quark", "zebra"]  # tie → lex
    assert all(r.tfidf > 0 for r in d0)
    # doc 1: apple tf=2 beats banana tf=1 (same df? apple df=1,
    # banana df=2 — apple wins on both axes)
    assert sorted(by_doc[1], key=lambda r: r.rank)[0].term == "apple"


def test_curation_funnel_stagewise_counts(spark):
    """curation_funnel: gates drop in order, the dedup population is
    stage-relative (a duplicate whose twin FAILED an earlier gate is
    NOT dropped), decontamination only scans survivors, and the
    n_in/n_kept/n_dropped arithmetic telescopes."""
    from crego_document_extractor_spark.ops.curation import (
        curation_funnel)
    rows = [
        # 0: clean survivor
        Row(doc_id=0, lang="en", text="the good document body here"),
        # 1: fails lang gate
        Row(doc_id=1, lang="de", text="der gute text hier"),
        # 2+3: duplicates, both survive gates -> 3 dropped at dedup
        Row(doc_id=2, lang="en", text="the duplicate page body"),
        Row(doc_id=3, lang="en", text="the duplicate page body"),
        # 4: duplicate of 1's text but lang en — its twin (1) failed
        #    the lang gate, so 4 is the only copy in the dedup pool
        Row(doc_id=4, lang="en", text="the der gute text hier"),
        # 5: contaminated (shares the eval 4-gram)
        Row(doc_id=5, lang="en",
            text="the leaked eval question alpha beta gamma"),
    ]
    evals = spark.createDataFrame(
        [Row(doc_id=100, text="eval question alpha beta gamma")])
    # doc 6: NULL lang — the gate predicate is NULL, which must
    # count as FAILED (what any downstream where() would drop)
    rows2 = rows + [Row(doc_id=6, lang=None, text="nullish the doc")]
    df = spark.createDataFrame(rows2)
    funnel, kept = curation_funnel(
        df, gates=[("lang_en", "lang = 'en'")],
        dedup=True, eval_df=evals, contam_n=4, return_kept=True)
    out = {r.stage: r for r in funnel.collect()}
    assert out["lang_en"].n_in == 7
    assert out["lang_en"].n_dropped == 2          # doc 1 + NULL doc 6
    assert out["exact_dedup"].n_in == 5
    assert out["exact_dedup"].n_dropped == 1      # doc 3 (twin of 2)
    assert out["decontaminate"].n_in == 4
    assert out["decontaminate"].n_dropped == 1    # doc 5
    assert out["decontaminate"].n_kept == 3       # docs 0, 2, 4
    # telescoping invariant
    for r in out.values():
        assert r.n_kept == r.n_in - r.n_dropped
    # return_kept: the kept frame IS the final survivors, with the
    # input schema (no internal columns)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2, 4]
    assert set(kept.columns) == {"doc_id", "lang", "text"}


def test_top_ngram_coverage_argmax_and_edges(spark):
    """with_top_ngram_coverage: correct argmax + lex tie-break,
    exact coverage arithmetic, and the <n-token edge yields null
    gram / zero fraction."""
    from crego_document_extractor_spark.ops.textstats import (
        with_top_ngram_coverage)
    df = spark.createDataFrame([
        # 'b c' occurs twice, everything else once
        Row(doc_id=0, text="a b c b c d"),
        # all bigrams once -> lexicographically smallest wins
        Row(doc_id=1, text="x y z"),
        Row(doc_id=2, text="solo"),   # < 2 tokens
    ])
    out = {r.doc_id: r for r in with_top_ngram_coverage(df, n=2).collect()}
    assert out[0].top_gram == "b c" and out[0].top_gram_count == 2
    # 2 occurrences x 3 chars / 11 chars
    assert out[0].top_gram_char_frac == round(6 / 11.0, 4)
    assert out[1].top_gram == "x y" and out[1].top_gram_count == 1
    assert out[2].top_gram is None
    assert out[2].top_gram_count == 0
    assert out[2].top_gram_char_frac == 0.0


def test_incremental_dedup_exact_and_minhash(spark):
    """Incremental dedup: exact survivors are batch-first AND
    history-unseen (idempotent on re-run), and the minhash band
    index finds a planted near-dup of a HISTORY doc in the batch
    without re-signing history."""
    from crego_document_extractor_spark.ops.dedup import (
        band_index, incremental_exact, incremental_minhash_candidates)
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    hist = spark.createDataFrame([
        Row(doc_id="h0", text=base),
        Row(doc_id="h1", text="completely different historical text "
                              "about accounting ledgers and totals"),
    ])
    batch = spark.createDataFrame([
        Row(doc_id="b0", text=base),                    # exact dup of h0
        Row(doc_id="b1", text="fresh unseen document one"),
        Row(doc_id="b2", text="fresh unseen document one"),  # batch dup
        Row(doc_id="b3", text=base.replace("tonight", "today")),  # near h0
    ])
    hist_keys = hist.selectExpr("sha2(text, 256) AS content_key")
    surv = incremental_exact(batch, hist_keys)
    ids = sorted(r.doc_id for r in surv.collect())
    assert ids == ["b1", "b3"]  # b0 seen in history, b2 loses to b1
    # idempotent: appending survivors' keys then re-running the SAME
    # batch yields nothing new
    updated = hist_keys.union(surv.select("content_key"))
    assert incremental_exact(batch, updated).count() == 0
    # near-dup screening against the stored index
    idx = band_index(hist, n_hashes=16, bands=8)
    cands = incremental_minhash_candidates(
        batch, idx, n_hashes=16, bands=8)
    got = {(r.batch_id, r.history_id) for r in cands.collect()}
    assert ("b3", "h0") in got or ("b0", "h0") in got
    assert ("b3", "h0") in got  # one-word change must band-collide
    assert not any(h == "h1" for _, h in got)


def test_write_training_shards_deterministic_and_resumable(spark, tmp_path):
    """write_training_shards: on-disk layout is one directory per
    (rng, shard), membership matches pack_sequences exactly, and a
    re-run (same input) overwrites in place to the same bytes —
    the idempotent-resume contract."""
    import os
    from crego_document_extractor_spark.ops.pack import (
        pack_sequences, write_training_shards)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["tok"] * (10 + i % 7)))
         for i in range(40)])
    path = str(tmp_path / "shards")
    man1 = {(r.rng, r.shard): (r.n_docs, r.n_tokens) for r in
            write_training_shards(df, path, budget_tokens=64,
                                  range_size=16).collect()}
    back = spark.read.parquet(path)
    expect = pack_sequences(df, budget_tokens=64, range_size=16)
    got = {(r.rng, r.shard, r.doc_id) for r in back.collect()}
    want = {(r.rng, r.shard, r.doc_id) for r in expect.collect()}
    assert got == want and len(man1) > 1
    # physical layout: hive-style partition dirs
    assert any(d.startswith("rng=") for d in os.listdir(path))
    # idempotent re-run: same manifest, same row set
    man2 = {(r.rng, r.shard): (r.n_docs, r.n_tokens) for r in
            write_training_shards(df, path, budget_tokens=64,
                                  range_size=16).collect()}
    assert man1 == man2
    assert {(r.rng, r.shard, r.doc_id)
            for r in spark.read.parquet(path).collect()} == want


def test_normalized_text_nfc_zwsp_whitespace(spark):
    """with_normalized_text: decomposed accents compose (NFC),
    zero-width chars vanish, whitespace runs collapse, and clean
    ASCII passes through untouched."""
    from crego_document_extractor_spark.ops.curation import (
        with_normalized_text)
    df = spark.createDataFrame([
        Row(doc_id=0, text="cafe\u0301 and nai\u0308ve twice"),
        Row(doc_id=1, text="zero\u200bwidth\ufeffgone"),
        Row(doc_id=2, text="  runs \t of\n\n whitespace  "),
        Row(doc_id=3, text="plain ascii stays"),
    ])
    out = {r.doc_id: r.norm_text
           for r in with_normalized_text(df).collect()}
    assert out[0] == "caf\u00e9 and na\u00efve twice"
    assert out[1] == "zerowidthgone"
    assert out[2] == "runs of whitespace"
    assert out[3] == "plain ascii stays"


def test_length_quantiles_exact_and_approx(spark):
    """length_quantiles: exact mode matches numpy's linear
    interpolation; approx mode is within the value range and
    monotone across quantiles."""
    import numpy as np
    from crego_document_extractor_spark.ops.textstats import (
        length_quantiles)
    vals = [3, 7, 11, 19, 23, 41, 59, 101]
    df = spark.createDataFrame(
        [Row(source="a", n_chars=v) for v in vals] +
        [Row(source="b", n_chars=v * 2) for v in vals])
    out = {r.source: r for r in length_quantiles(df).collect()}
    for src, mult in (("a", 1), ("b", 2)):
        arr = np.array(vals) * mult
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            assert out[src][col] == round(
                float(np.quantile(arr, q)), 4), (src, col)
    ap = {r.source: r for r in
          length_quantiles(df, approx=True).collect()}
    for src, mult in (("a", 1), ("b", 2)):
        r = ap[src]
        assert min(vals) * mult <= r.p50 <= r.p90 <= r.p99 <= 101 * mult


def test_minhash_jaccard_estimate_tracks_truth(spark):
    """minhash_jaccard_estimate: identical docs estimate 1.0,
    disjoint docs 0.0, and a planted near-dup lands closer to its
    true Jaccard than to either extreme (n_hashes=64)."""
    from crego_document_extractor_spark.ops.dedup import (
        minhash_signature, minhash_jaccard_estimate)
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(38)) + " aaa bbb"
    rows = [Row(doc_id="a", text=base), Row(doc_id="b", text=base),
            Row(doc_id="c", text=near),
            Row(doc_id="d", text=" ".join(f"zzz{i}" for i in range(40)))]
    sigs = minhash_signature(spark.createDataFrame(rows), n_hashes=64)
    pairs = spark.createDataFrame(
        [Row(d1="a", d2="b"), Row(d1="a", d2="c"), Row(d1="a", d2="d")])
    est = {(r.d1, r.d2): r.est_jaccard
           for r in minhash_jaccard_estimate(pairs, sigs).collect()}
    assert est[("a", "b")] == 1.0
    assert est[("a", "d")] == 0.0
    # true shingle (k=3) Jaccard of a vs c is ~0.83; allow sampling
    # noise of the 64-hash estimator
    assert 0.55 <= est[("a", "c")] <= 1.0


def test_readability_flesch_formula(spark):
    """with_readability: sentence/syllable censuses and the Flesch
    formula agree with a hand computation; the guards keep empty-ish
    text finite."""
    from crego_document_extractor_spark.ops.textstats import (
        with_readability)
    df = spark.createDataFrame([
        Row(doc_id=0, text="The cat sat. The dog ran!"),
        Row(doc_id=1, text=""),
    ])
    out = {r.doc_id: r for r in with_readability(df).collect()}
    r = out[0]
    assert r.n_sentences == 2
    # syllable groups: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6
    assert r.n_syllables == 6
    w = 6
    expect = round(206.835 - 1.015 * (w / 2.0) - 84.6 * (6 / float(w)), 4)
    assert r.flesch == expect
    assert out[1].n_sentences == 1 and out[1].flesch is not None


def test_corpus_diff_and_split(spark):
    """corpus_diff: per-id statuses across two snapshots;
    split_corpus: deterministic, salt-sensitive, exhaustive."""
    from crego_document_extractor_spark.ops.curation import (
        corpus_diff, split_corpus)
    old = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(4)])
    new = spark.createDataFrame(
        [Row(doc_id=0, text="doc 0"),          # unchanged
         Row(doc_id=1, text="doc 1 edited"),   # changed
         # 2 removed
         Row(doc_id=3, text="doc 3"),
         Row(doc_id=9, text="brand new")])     # added
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed",
                   3: "unchanged", 9: "added"}
    df = spark.createDataFrame(
        [Row(doc_id=i) for i in range(500)])
    s1 = {r.doc_id: r.split
          for r in split_corpus(df, 0.1, 0.1).collect()}
    s2 = {r.doc_id: r.split
          for r in split_corpus(df, 0.1, 0.1).collect()}
    assert s1 == s2                       # deterministic
    assert set(s1.values()) == {"train", "val", "test"}
    n_val = sum(1 for v in s1.values() if v == "val")
    assert 20 <= n_val <= 80              # ~50 expected at 10%
    s3 = {r.doc_id: r.split
          for r in split_corpus(df, 0.1, 0.1, salt="other").collect()}
    assert s3 != s1                       # salt re-rolls


def test_normalized_text_strips_zero_width_without_collapse(spark):
    """Zero-width strip is part of canonicalization — it must apply
    even with collapse_ws=False (whitespace left untouched)."""
    from crego_document_extractor_spark.ops.curation import (
        with_normalized_text)
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a​b  c")])
    r = with_normalized_text(df, collapse_ws=False).collect()[0]
    assert r.norm_text == "ab  c"


def test_curation_funnel_random_python_oracle(spark):
    """Randomized (seeded) corpora vs a pure-Python funnel oracle:
    stage-relative dedup populations, NULL gates, decontamination,
    telescoping counts, and the kept set — all must agree with the
    sequential reference implementation."""
    import hashlib
    import random
    from crego_document_extractor_spark.ops.curation import (
        curation_funnel)

    rng = random.Random(1234)
    vocab = ["the", "cat", "dog", "runs", "alpha", "beta", "gamma",
             "delta", "eps"]
    for trial in range(3):
        n = rng.randint(8, 40)
        rows = []
        for i in range(n):
            lang = rng.choice(["en", "de", None])
            # duplicates: sometimes reuse a previous text verbatim
            if rows and rng.random() < 0.3:
                text = rows[rng.randrange(len(rows))][2]
            else:
                text = " ".join(rng.choice(vocab)
                                for _ in range(rng.randint(3, 9)))
            rows.append((i, lang, text))
        evals = [" ".join(rng.choice(vocab) for _ in range(5))
                 for _ in range(2)]
        gates = [("lang_en", "lang = 'en'"),
                 ("min_len", "length(text) >= 12")]

        # --- pure-Python sequential reference
        def py_gate(r, idx):
            if idx == 0:
                return r[1] == "en"
            return len(r[2]) >= 12

        def grams4(t):
            toks = [x for x in t.lower().split() if x]
            return {" ".join(toks[i:i + 4])
                    for i in range(len(toks) - 3)}
        ev_grams = set().union(*(grams4(e) for e in evals)) or set()
        ff = {}
        for r in rows:
            ff[r[0]] = 4  # kept
            for gi in range(2):
                if not py_gate(r, gi):
                    ff[r[0]] = gi
                    break
        # stage-relative dedup: min id per text among reach-2 docs
        pool = [r for r in rows if ff[r[0]] == 4]
        first = {}
        for r in pool:
            k = hashlib.md5(r[2].encode()).hexdigest()
            first.setdefault(k, r[0])
        for r in pool:
            k = hashlib.md5(r[2].encode()).hexdigest()
            if first[k] != r[0]:
                ff[r[0]] = 2
        # decontamination among reach-3 docs
        for r in rows:
            if ff[r[0]] == 4 and grams4(r[2]) & ev_grams:
                ff[r[0]] = 3
        exp_drop = [sum(1 for v in ff.values() if v == i)
                    for i in range(4)]
        exp_kept_ids = sorted(i for i, v in ff.items() if v == 4)

        df = spark.createDataFrame(rows, "doc_id int, lang string, "
                                         "text string")
        ev_df = spark.createDataFrame([(j, e) for j, e in
                                       enumerate(evals)],
                                      "doc_id int, text string")
        funnel, kept = curation_funnel(
            df, gates, dedup=True, eval_df=ev_df, contam_n=4,
            return_kept=True)
        got = sorted((r.stage_idx, r.n_in, r.n_kept, r.n_dropped)
                     for r in funnel.collect())
        n_in = n
        for idx in range(4):
            assert got[idx][3] == exp_drop[idx], (trial, idx, got)
            assert got[idx][1] == n_in
            assert got[idx][2] == n_in - exp_drop[idx]
            n_in -= exp_drop[idx]
        assert sorted(r.doc_id for r in kept.collect()) == exp_kept_ids


def test_line_signals_fractions(spark):
    """with_line_signals: each fraction counts exactly the lines it
    claims to, on a constructed multi-line doc."""
    from crego_document_extractor_spark.ops.textstats import (
        with_line_signals)
    text = "\n".join([
        "A full prose sentence here.",   # end punct
        "- bullet item",                  # bullet
        "1. numbered item",               # bullet (numbered)
        "short",                          # short (<10)
        "no terminal punctuation line",   # neither
    ])
    r = with_line_signals(spark.createDataFrame(
        [Row(doc_id=0, text=text)])).collect()[0]
    assert r.n_lines == 5
    assert r.frac_lines_end_punct == round(1 / 5.0, 4)
    assert r.frac_bullet_lines == round(2 / 5.0, 4)
    assert r.frac_short_lines == round(1 / 5.0, 4)
    total = sum(len(x) for x in text.split("\n"))
    assert r.mean_line_len == round(total / 5.0, 4)


def test_char_entropy_signal(spark):
    """with_char_entropy: uniform 4-char text = 2 bits, single-char
    spam = 0 bits, and English prose sits between spam and a
    high-entropy random-ish string."""
    import math
    from crego_document_extractor_spark.ops.textstats import (
        with_char_entropy)
    df = spark.createDataFrame([
        Row(doc_id=0, text="abcd" * 10),
        Row(doc_id=1, text="aaaaaaaaaa"),
        Row(doc_id=2, text="the quick brown fox jumps over it"),
        Row(doc_id=3, text="qZ3!x9@Lp#w7&Kf2%Mv5^Rt8*Yh1-Jd6"),
    ])
    out = {r.doc_id: r for r in with_char_entropy(df).collect()}
    assert out[0].char_entropy == 2.0
    assert out[0].n_distinct_chars == 4
    assert out[1].char_entropy == 0.0
    assert 0.0 < out[2].char_entropy < out[3].char_entropy
