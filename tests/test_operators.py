"""Operator-level tests with planted duplicates/neighbors — proves the
rows-only (non-oracle) ops actually detect what they claim to."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


BASE = ("the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across the cluster and the optimizer prunes "
        "columns from the scan before the join runs at scale").split()


def _mutate(words: list[str], n_swaps: int) -> str:
    out = list(words)
    for i in range(n_swaps):
        out[(7 * i + 3) % len(out)] = f"tok{i}"
    return " ".join(out)


@pytest.fixture(scope="module")
def planted_docs(spark):
    rows = [
        (0, " ".join(BASE)),
        (1, _mutate(BASE, 2)),          # near-dup of 0 (high jaccard)
        (2, _mutate(BASE, 3)),          # near-dup of 0/1
        (3, " ".join(reversed(BASE))),  # same vocab, different order
        (4, "completely different words about databases indexes btrees "
            "and write ahead logs living elsewhere entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_pairs(planted_docs):
    from etl_airflow_spotify_spark.operators.dedup import minhash_near_duplicates

    # threshold 0.5 needs r=2 banding: 16x4 bands detect j~0.54 with only
    # p~0.76, while 64x2 bands give P(miss) ~ 3e-10.
    pairs = {(r.id_a, r.id_b) for r in
             minhash_near_duplicates(planted_docs, "doc_id", "text",
                                     threshold=0.5, num_hashes=128,
                                     bands=64).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(4 not in p for p in pairs)


def test_simhash_contract(spark, planted_docs):
    """4x16-bit banding GUARANTEES detection only for hamming <= 3
    (pigeonhole); the operator must find exactly the <=max_hamming pairs
    among its candidates and never emit a pair above the threshold."""
    import itertools

    from etl_airflow_spotify_spark.operators.dedup import (
        simhash_near_duplicates, with_simhash)

    docs = planted_docs.union(
        spark.createDataFrame([(5, " ".join(BASE))], ["doc_id", "text"]))

    h = {r.doc_id: r.simhash for r in
         with_simhash(docs, "text").select("doc_id", "simhash").collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    guaranteed = {(x, y) for x, y in itertools.combinations(sorted(h), 2)
                  if hamming(h[x], h[y]) <= 3}
    assert (0, 5) in guaranteed  # exact dup -> distance 0

    found = {(r.id_a, r.id_b) for r in
             simhash_near_duplicates(docs, "doc_id", "text",
                                     max_hamming=3).collect()}
    assert guaranteed <= found
    assert all(hamming(h[x], h[y]) <= 3 for x, y in found)


def test_minhash_no_false_negatives_vs_exact(spark, sf_dir):
    """LSH candidates must cover every true pair >= threshold found by
    exhaustive comparison on the small SF."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.dedup import (
        char_ngrams, jaccard, minhash_near_duplicates, token_shingles)

    docs = load_table(spark, sf_dir, "documents")
    lsh = {(r.id_a, r.id_b) for r in
           minhash_near_duplicates(docs, "doc_id", "text",
                                   threshold=0.8).collect()}
    sh = docs.select(
        F.col("doc_id").alias("_id"),
        token_shingles(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 3)
        .alias("s"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("s").alias("sb"))
    exact = {(r.id_a, r.id_b) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .filter(jaccard(F.col("sa"), F.col("sb")) >= 0.8)
             .select("id_a", "id_b").collect()}
    assert lsh == exact


def test_vector_lsh_finds_planted_neighbors(spark):
    import random

    from etl_airflow_spotify_spark.operators.similarity import (
        near_duplicate_vectors)

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]          # cosine ~ 1
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    rows += [(i, [float(rng.gauss(0, 1)) for _ in range(64)])
             for i in range(2, 40)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    pairs = {(r.id_a, r.id_b) for r in
             near_duplicate_vectors(df, threshold=0.95).collect()}
    assert (0, 1) in pairs


def test_ivf_topk_planted_copy_recall(spark, sf_dir):
    """A scaled copy shares its original's argmax cell, so IVF must rank
    it first for every query; overall recall vs. exact stays useful even
    on structureless random vectors."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        ivf_topk_cosine, topk_cosine)
    from etl_airflow_spotify_spark.queries.similarity import (
        _with_planted, PLANT_OFFSET)

    emb = _with_planted(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    ivf = ivf_topk_cosine(emb, queries, 5).collect()
    # planted copy is always found and always rank 1
    rank1 = {r.query_id: r.cand_id for r in ivf if r.rn == 1}
    assert rank1 == {q: q + PLANT_OFFSET for q in range(10)}
    exact = topk_cosine(emb, queries, 5).collect()
    exact_pairs = {(r.query_id, r.cand_id) for r in exact}
    ivf_pairs = {(r.query_id, r.cand_id) for r in ivf}
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3  # random corpus: ~n_probe/n_cells of true top-k


def test_topk_cosine_self_similarity(spark):
    from etl_airflow_spotify_spark.operators.similarity import topk_cosine

    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = topk_cosine(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.cand_id for r in sorted(out, key=lambda r: r.rn)] == [1, 2]


def test_exact_duplicates_groups(spark):
    from etl_airflow_spotify_spark.operators.dedup import exact_duplicates
    from etl_airflow_spotify_spark.operators.text import exact_fingerprint

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"])
    groups = exact_duplicates(df, "doc_id", exact_fingerprint("text"))
    dup = [r for r in groups.collect() if r.n == 2]
    assert len(dup) == 1 and dup[0].keep_id == 1


def test_incremental_minhash_equals_full_run(spark, sf_dir):
    """Incremental dedup over an 80/20 corpus split reports exactly the
    full run's pairs that involve a new document."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.dedup import (
        build_minhash_index, incremental_near_duplicates,
        minhash_near_duplicates)

    docs = load_table(spark, sf_dir, "documents")
    cut = 40  # sf0.001 has 50 docs
    old = docs.filter(F.col("doc_id") < cut)
    new = docs.filter(F.col("doc_id") >= cut)
    full = {(r.id_a, r.id_b, r.jaccard)
            for r in minhash_near_duplicates(docs, "doc_id", "text").collect()}
    want = {t for t in full if t[0] >= cut or t[1] >= cut}
    index = build_minhash_index(old, "doc_id", "text")
    got = {(r.id_a, r.id_b, r.jaccard)
           for r in incremental_near_duplicates(index, new, "doc_id", "text")
           .collect()}
    assert got == want
    assert len(full) > 0  # the corpus does contain near-dups


def test_kmeans_codebook_beats_random(spark, sf_dir):
    """A data-trained coarse quantizer must not lose to random cells at
    the same probe budget (it roughly doubles recall on this corpus)."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        ivf_topk_cosine, topk_cosine, train_kmeans_centroids)

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id) for r in topk_cosine(emb, q, 5).collect()}
    cents = train_kmeans_centroids(emb, iters=3)
    km = {(r.query_id, r.cand_id)
          for r in ivf_topk_cosine(emb, q, 5, centroids=cents).collect()}
    rnd = {(r.query_id, r.cand_id)
           for r in ivf_topk_cosine(emb, q, 5).collect()}
    assert len(km & exact) >= len(rnd & exact)
    assert len(km & exact) / len(exact) >= 0.5


def test_trained_pq_codebook_tightens_quantization(spark, sf_dir):
    """Per-subspace Lloyd's must (a) cut the PQ quantization error well
    below the seeded random codebook's — that is its objective — and
    (b) not lose end-to-end recall at the same overfetch. Everything
    here is deterministic (fixed data, first-k init), so the measured
    margins are stable, not flaky."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        _pq_codebook, as_double, ivfpq_topk_cosine, topk_cosine,
        train_pq_codebook)

    m, k_pq, sub_dim = 8, 16, 8
    emb = load_table(spark, sf_dir, "embeddings")
    trained = train_pq_codebook(emb, iters=3)
    seeded = _pq_codebook(m, k_pq, sub_dim, 13)
    assert len(trained) == len(seeded) == m * k_pq

    def sq_err(book: list[list[float]]) -> float:
        """Mean squared distance of each subvector to the nearest
        codeword OF ITS OWN SUBSPACE — the k-means objective."""
        flat = [x for c in book for x in c]
        bdf = emb.sparkSession.createDataFrame(
            [(flat,)], "__pq: array<double>")
        subs = emb.select(F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice(as_double(F.col("embedding")),
                             s * sub_dim + 1, sub_dim).alias("sv"))
            for s in range(m)])).alias("e"),
        ).select(F.col("e.s").alias("s"), F.col("e.sv").alias("sv")) \
         .crossJoin(F.broadcast(bdf))
        best = F.array_min(F.transform(
            F.sequence(F.lit(0), F.lit(k_pq - 1)),
            lambda j: F.aggregate(
                F.zip_with(F.col("sv"),
                           F.slice(F.col("__pq"),
                                   (F.col("s") * k_pq + j) * sub_dim + 1,
                                   sub_dim),
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, v: a + v)))
        return subs.agg(F.avg(best)).first()[0]

    assert sq_err(trained) < 0.5 * sq_err(seeded)

    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id) for r in topk_cosine(emb, q, 5).collect()}
    tr = {(r.query_id, r.cand_id)
          for r in ivfpq_topk_cosine(emb, q, 5, pq_codebook=trained).collect()}
    sd = {(r.query_id, r.cand_id)
          for r in ivfpq_topk_cosine(emb, q, 5).collect()}
    assert len(tr & exact) >= len(sd & exact)


def _clustered_corpus(spark, n_clusters=16, per_cluster=40, dim=64):
    """Deterministic corpus WITH cluster structure — the data regime
    IVFADC is designed for (residuals shrink once the coarse quantizer
    absorbs between-cluster variance). Seeded RNG, so every run builds
    the identical corpus."""
    import random

    rng = random.Random(99)
    centers = [[rng.uniform(-1, 1) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0.0, 0.05) for x in c]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_residual_pq_beats_direct_pq_reconstruction(spark):
    """IVFADC law on clustered data: with an L2-trained coarse
    quantizer, PQ over residuals must reconstruct vectors (centroid +
    decoded residual) with materially lower MSE than direct PQ over raw
    vectors at the same m x k_pq budget — and end-to-end recall must
    not lose to the seeded-codebook path. Deterministic end to end
    (seeded corpus, Lloyd's from first-k inits)."""
    from etl_airflow_spotify_spark.operators.similarity import (
        _cell_scores_l2, _codebook_df, _pq_codes, _residual, as_double,
        ivfpq_residual_topk, ivfpq_topk_cosine, topk_cosine,
        train_kmeans_centroids, train_pq_codebook)

    m, k_pq, sub_dim, dim = 8, 16, 8, 64
    emb = _clustered_corpus(spark)
    coarse = train_kmeans_centroids(emb, iters=3, metric="l2")
    res_book = train_pq_codebook(emb, iters=3, coarse=coarse)
    raw_book = train_pq_codebook(emb, iters=3)

    def recon_mse(book, use_residual):
        flat = [x for c in book for x in c]
        pq = spark.createDataFrame([(flat,)], "__pq: array<double>")
        df = (emb.select(as_double(F.col("embedding")).alias("v"))
              .crossJoin(F.broadcast(_codebook_df(spark, coarse)))
              .crossJoin(F.broadcast(pq)))
        if use_residual:
            cell = F.array_max(_cell_scores_l2(F.col("v"), len(coarse),
                                               dim))["i"]
            target = _residual(F.col("v"), cell, dim)
        else:
            target = F.col("v")
        codes = _pq_codes(target, m, k_pq, sub_dim)
        # reconstruction error = sum over subspaces of ||t_s - cw_s||^2
        err = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc + F.aggregate(
                F.zip_with(
                    F.slice(target, s * sub_dim + 1, sub_dim),
                    F.slice(F.col("__pq"),
                            (s * k_pq + F.element_at(codes, s + 1))
                            * sub_dim + 1, sub_dim),
                    lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, v: a + v))
        return df.agg(F.avg(err)).first()[0]

    # on clustered data residual PQ should dominate by a wide margin
    assert recon_mse(res_book, True) < 0.25 * recon_mse(raw_book, False)

    # overfetch must cover the cluster size here: within a cluster all
    # vectors are near-identical, so ADC differences are sub-noise and
    # selection below cluster size is effectively arbitrary among them
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id) for r in topk_cosine(emb, q, 5).collect()}
    res = {(r.query_id, r.cand_id)
           for r in ivfpq_residual_topk(emb, q, 5, coarse, res_book,
                                        overfetch=8).collect()}
    seeded = {(r.query_id, r.cand_id)
              for r in ivfpq_topk_cosine(emb, q, 5, overfetch=8).collect()}
    assert len(res & exact) >= len(seeded & exact)
    assert len(res & exact) / len(exact) >= 0.8


def test_ivf_persisted_matches_in_job_ivf(spark, sf_dir, tmp_path):
    """build_ivf_index + search_ivf_index is a pure re-layout of the
    one-job IVF: same codebook, same probes, identical (query, cand,
    score, rn) rows."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        build_ivf_index, ivf_topk_cosine, search_ivf_index)
    from etl_airflow_spotify_spark.queries.similarity import _with_planted

    emb = _with_planted(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path)
    got = {tuple(r) for r in search_ivf_index(spark, path, queries, 5).collect()}
    want = {tuple(r) for r in ivf_topk_cosine(emb, queries, 5).collect()}
    assert got == want


def test_dataset_split_stable_under_repartition(spark, sf_dir):
    """The hash split is a pure function of doc_id: repartitioning (or
    any cluster-layout change) must not move a single document — the
    property rand()-based sample() does not have."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.queries.sampling import assign_split

    d = load_table(spark, sf_dir, "documents")
    a = {(r["doc_id"], r["split"])
         for r in assign_split(d, "doc_id").select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"])
         for r in assign_split(d.repartition(7), "doc_id")
         .select("doc_id", "split").collect()}
    assert a == b
    assert {s for _, s in a} == {"train", "val", "test"}


# -- round-2 ADVICE fixes ----------------------------------------------------


def test_salted_join_rejects_unsupported_how(spark):
    from etl_airflow_spotify_spark.operators.scale import salted_join

    big = spark.createDataFrame([(1, "a")], ["k", "v"])
    small = spark.createDataFrame([(1, "x")], ["k", "w"])
    for how in ("right", "full", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how=how)


def test_asof_right_order_cols_breaks_ties(spark):
    """Two right rows at the SAME (key, ts): right_order_cols must make
    the greater-tuple row the deterministic carry."""
    from etl_airflow_spotify_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 50, 5, "low"), (1, 50, 9, "high")],
        ["k", "ts", "seq", "val"])
    out = asof_join_backward(left, right, on=["k"], ts="ts",
                             value_cols=["val"],
                             right_order_cols=["seq"]).collect()
    assert len(out) == 1 and out[0]["asof_val"] == "high"
    # and the order columns do not leak into the output schema
    assert not [c for c in out[0].asDict() if c.startswith("_ord_")]


def test_connected_components_warns_when_unconverged(spark):
    import warnings

    from etl_airflow_spotify_spark.operators.dedup import connected_components

    # a 5-node path graph has diameter 4 > max_iters=1
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["id_a", "id_b"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, max_iters=1)
        assert any("max_iters" in str(x.message) for x in w)


def test_persist_tracking_releases(spark, planted_docs):
    from etl_airflow_spotify_spark.caching import _TRACKED, release_all
    from etl_airflow_spotify_spark.operators.dedup import minhash_near_duplicates

    release_all()
    minhash_near_duplicates(planted_docs, "doc_id", "text",
                            threshold=0.5).collect()
    assert len(_TRACKED) >= 2  # shingles + bucket rows
    assert release_all() >= 2
    assert not _TRACKED


def test_cdc_merge_semantics(spark):
    from etl_airflow_spotify_spark.operators.cdc import cdc_merge

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "name", "bal"])
    changes = spark.createDataFrame(
        [(2, 1, "U", None, 25.0),   # partial update: name stays "b"
         (3, 1, "U", "c2", None),   # later change below wins
         (3, 2, "D", None, None),   # delete key 3
         (4, 1, "U", "d", 40.0)],   # insert new key
        ["k", "seq", "op", "name", "bal"])
    out = {r["k"]: r for r in
           cdc_merge(snap, changes, "k", seq_cols=["seq"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["name"] == "a" and out[1]["bal"] == 10.0
    assert out[2]["name"] == "b" and out[2]["bal"] == 25.0
    assert out[4]["name"] == "d" and out[4]["bal"] == 40.0


def test_blocked_fuzzy_pairs_planted(spark):
    from etl_airflow_spotify_spark.operators.linkage import \
        blocked_fuzzy_pairs

    rows = [("acme corp", 3), ("acme c0rp", 1),   # dist 1, share token 1
            ("acme widgets", 2),                   # too far from corp
            ("blue corp", 1),                      # shares token 2 w/ acme corp
            ("zzz unrelated", 5)]
    vals = spark.createDataFrame(rows, "nm string, n long")
    out = blocked_fuzzy_pairs(
        vals, "nm", "n",
        [lambda c: F.split_part(c, F.lit(" "), F.lit(1)),
         lambda c: F.split_part(c, F.lit(" "), F.lit(2))],
        max_dist=4).collect()
    pairs = {(r.value_a, r.value_b): (r.edit_dist, r.pair_weight) for r in out}
    # typo pair found via block 1, weight = 3*1
    assert pairs[("acme c0rp", "acme corp")] == (1, 3)
    # cross-first-token pair found ONLY via the second blocking pass
    assert ("acme corp", "blue corp") in pairs
    # unrelated value pairs with nothing
    assert not any("zzz" in a or "zzz" in b for a, b in pairs)


def test_blocked_fuzzy_pairs_block_cap(spark):
    """A degenerate block (every one-token value mapping to the ''
    second-token block) must be dropped by max_block before the
    self-join goes quadratic; pairs it covered still surface through
    the other blocking pass."""
    import pyspark.sql.functions as F

    from etl_airflow_spotify_spark.operators.linkage import \
        blocked_fuzzy_pairs

    # 8 one-token values -> second-token block fn returns '' for ALL of
    # them (one 8-wide degenerate block); the acme pair blocks cleanly
    # under BOTH passes
    rows = ([(f"x{i}", 1) for i in range(8)]
            + [("acme corp", 3), ("acme c0rp", 1)])
    vals = spark.createDataFrame(rows, "nm string, n long")
    fns = [lambda c: F.split_part(c, F.lit(" "), F.lit(1)),
           lambda c: F.split_part(c, F.lit(" "), F.lit(2))]

    capped = {(r.value_a, r.value_b) for r in
              blocked_fuzzy_pairs(vals, "nm", "n", fns, max_dist=1,
                                  max_block=4).collect()}
    uncapped = {(r.value_a, r.value_b) for r in
                blocked_fuzzy_pairs(vals, "nm", "n", fns, max_dist=1,
                                    max_block=None).collect()}
    # the typo pair survives the cap via the 2-wide 'acme' block
    assert ("acme c0rp", "acme corp") in capped
    # x-pairs (dist 1 from each other) were reachable only through the
    # dropped 8-wide '' block: present uncapped, gone capped
    assert ("x0", "x1") in uncapped and ("x0", "x1") not in capped
    assert capped == {("acme c0rp", "acme corp")}


def test_repetition_metrics_edges(spark):
    from etl_airflow_spotify_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a a a a b"),        # top word 4/5, bigram 'a a' x3 dup
         (2, "one two three"),    # no repetition
         (3, "solo")],            # 1 token: zero bigrams, frac 0.0
        "doc_id long, text string")
    m = {r.doc_id: r for r in repetition_metrics(docs, "doc_id", "text")
         .collect()}
    assert m[1].n_words == 5 and m[1].n_distinct == 2
    assert abs(m[1].top_word_frac - 0.8) < 1e-12
    # bigrams of doc1: aa aa aa ab -> 4 total, 2 distinct -> dup 0.5
    assert m[1].n_bigrams == 4 and abs(m[1].dup_bigram_frac - 0.5) < 1e-12
    assert m[2].dup_bigram_frac == 0.0 and m[2].top_word_frac < 0.34
    assert m[3].n_bigrams == 0 and m[3].dup_bigram_frac == 0.0


def test_nearest_centroid_recovers_planted_clusters(spark):
    import random

    from etl_airflow_spotify_spark.operators.similarity import (
        assign_nearest_centroid, label_centroids)

    rng = random.Random(11)
    dim, per = 16, 30
    protos = {0: [1.0] * dim,
              1: [(-1.0) ** i for i in range(dim)],
              2: [-1.0] * dim}
    rows = []
    vid = 0
    for lab, proto in protos.items():
        for _ in range(per):
            rows.append((vid, lab,
                         [x + rng.gauss(0, 0.2) for x in proto]))
            vid += 1
    vecs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    cents = label_centroids(vecs, "label", "embedding")
    assert cents.count() == 3
    best = assign_nearest_centroid(vecs, cents)
    acc = (best.filter(F.col("label") == F.col("pred")).count()
           / float(vid))
    assert acc == 1.0, "well-separated planted clusters must classify cleanly"


def test_grouped_robust_stats_flags_planted_outliers(spark):
    from etl_airflow_spotify_spark.operators.robust import grouped_robust_stats

    base = [("a", float(v)) for v in range(1, 102)]      # 1..101, med=51
    spiked = base + [("a", 1e6), ("b", 5.0), ("b", 5.0), ("b", 5.0),
                     ("b", 99.0)]
    df = spark.createDataFrame(spiked, "k string, v double")
    out = {r.k: r for r in grouped_robust_stats(df, "k", "v").collect()}
    # group a: med ~51.5, MAD ~25.75 -> only the 1e6 spike flags
    assert out["a"].n_outliers == 1
    # group b: MAD = 0 (majority identical) -> any v != med flags
    assert out["b"].mad == 0.0 and out["b"].n_outliers == 1


def test_duplicated_ngram_coverage_planted(spark):
    from etl_airflow_spotify_spark.operators.dedup import \
        duplicated_ngram_coverage

    shared = "one two three four"          # the 4-gram both docs carry
    docs = spark.createDataFrame(
        [(1, shared + " alpha beta"),      # positions 1..3 (n=4)
         (2, "gamma delta " + shared),     # shared 4-gram at position 3
         (3, "totally different words here entirely"),
         (4, "tiny doc")],                 # < n tokens -> zero shingles
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           duplicated_ngram_coverage(docs, "doc_id", "text", n=4).collect()}
    assert out[1].n_shingles == 3 and out[1].n_dup == 1
    assert out[2].n_shingles == 3 and out[2].n_dup == 1
    assert out[3].n_dup == 0
    assert out[4].n_shingles == 0 and out[4].dup_frac == 0.0


def test_exact_trainers_integer_discipline(spark, sf_dir):
    """The fixed-point Lloyd trainers (r4): integer half-away rounding
    matches its SQL twin's formula, stride sampling is deterministic,
    and both trainers emit integer codebooks of the right shape whose
    serving conversion int/TRAIN_GRID is exact in double."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        TRAIN_GRID, _int_round_div, _stride_sample,
        train_kmeans_centroids_exact, train_pq_codebook_exact)

    # ties away from zero, exact rational (no float round-trip)
    assert [_int_round_div(s, n) for s, n in
            [(7, 2), (-7, 2), (5, 2), (-5, 2), (4, 2), (1, 3), (-1, 3)]] \
        == [4, -4, 3, -3, 2, 0, 0]

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    sampled, stride = _stride_sample(emb, "vec_id", max(1, n // 3))
    assert stride >= 3 and sampled.count() <= n // 3 + 1
    ident, stride1 = _stride_sample(emb, "vec_id", n + 1)
    assert stride1 == 1 and ident.count() == n

    coarse = train_kmeans_centroids_exact(emb, n_cells=4, iters=2)
    assert len(coarse) == 4 and all(
        len(c) == 64 and all(isinstance(x, int) for x in c) for c in coarse)
    book = train_pq_codebook_exact(emb, m=8, k_pq=4, iters=2,
                                   coarse_int=coarse)
    assert len(book) == 32 and all(len(cw) == 8 for cw in book)
    # int/TRAIN_GRID is a binary-scale division: exactly representable
    x = book[0][0]
    assert (x / TRAIN_GRID) * TRAIN_GRID == x


def test_training_sample_bound_is_deterministic(spark, sf_dir):
    """Above the bound the Lloyd trainers see a fixed-size md5-threshold
    sample: membership is a pure function of the id (two evaluations
    agree row-for-row) and the sample is within sampling error of the
    target; below the bound the input passes through untouched."""
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.similarity import (
        _bounded_training_sample, train_kmeans_centroids)

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assert _bounded_training_sample(emb, "vec_id", n + 1).count() == n

    bound = max(50, n // 4)
    s1 = {r["vec_id"] for r in
          _bounded_training_sample(emb, "vec_id", bound)
          .select("vec_id").collect()}
    s2 = {r["vec_id"] for r in
          _bounded_training_sample(emb.repartition(7), "vec_id", bound)
          .select("vec_id").collect()}
    assert s1 == s2, "sample membership must survive repartitioning"
    assert 0.5 * bound <= len(s1) <= 1.5 * bound

    cents = train_kmeans_centroids(emb, n_cells=4, dim=64, iters=2,
                                   train_max_rows=bound)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
