"""Unit tests for dedup / similarity / text-analysis operators on tiny
in-memory data (the oracle harness covers fixture-scale correctness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.operators import dedup as D
from mrc_spark_jobs_pubmed_spark.operators import similarity as S
from mrc_spark_jobs_pubmed_spark.operators import textstats as X


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_duplicates(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.content_hash: r for r in D.exact_dedup_groups(df).collect()}
    assert len(out) == 2
    dup = [r for r in out.values() if r.n_copies == 2][0]
    assert dup.canonical_doc_id == 1


def test_identical_docs_share_all_minhash_bands(spark):
    df = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")])
    pairs = D.lsh_candidate_pairs(D.minhash_band_keys(D.shingle_rows(df))).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]


def test_jaccard_identical_is_one_disjoint_absent(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")])
    rows = D.jaccard_pairs(D.shingle_rows(df)).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_simhash_equal_for_equal_token_sets(spark):
    # same distinct-token set (order/multiplicity differ) → same simhash
    df = _docs(spark, [(1, "a b c"), (2, "c b a a"), (3, "p q r s")])
    fp = {r.doc_id: r.simhash for r in D.simhash_fingerprints(df).collect()}
    assert fp[1] == fp[2] != fp[3]
    assert 0 <= fp[1] < (1 << D.SIMHASH_BITS)


def test_cosine_topk_finds_identical_vector(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.topk_cosine(df, [1.0, 0.0, 0.0], k=2).collect()
    assert out[0].vec_id == 1 and out[0].cosine == 1.0
    assert out[1].vec_id == 2


def test_bucket_id_sign_bits(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [-1.0] * 8), (3, [1.0, -1.0] * 4)],
        ["vec_id", "embedding"],
    )
    got = {
        r.vec_id: r.b
        for r in df.select("vec_id", S.bucket_id(F.col("embedding")).alias("b")).collect()
    }
    assert got == {1: 255, 2: 0, 3: 0b01010101}


def test_langid_marker_argmax(spark):
    df = spark.createDataFrame(
        [(1, "the cat of the house"), (2, "der hund und die katze")], ["doc_id", "text"]
    )
    base = df.select("doc_id", D.tokens_col(F.col("text")).alias("toks"))
    scores = {
        lang: X.marker_hits(F.col("toks"), m) for lang, m in X.LANG_MARKERS.items()
    }
    got = {
        r.doc_id: r.lang
        for r in base.select("doc_id", X.predicted_lang(scores).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de"}


def test_fingerprint_normalization_invariance(spark):
    df = _docs(spark, [(1, "Hello   World"), (2, "hello world"), (3, "other")])
    fp = {r.doc_id: r.f for r in df.select(
        "doc_id", X.fingerprint(F.col("text")).alias("f")
    ).collect()}
    assert fp[1] == fp[2] != fp[3]
    assert len(fp[1]) == 16


def test_blocked_pairs_match_nested_loop_form(spark):
    # the block-GEMM tiling must select exactly the same top pairs as
    # the naive all-pairs join (exact operator, not approximate)
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    naive = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(S.cosine(F.col("ea"), F.col("eb")), 6).alias("c"))
        .orderBy(F.desc("c"), "vec_a", "vec_b")
        .limit(20)
    )
    blocked = (
        S.topk_pairs_blocked(emb, k=30, n_blocks=3)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("c"))
        .orderBy(F.desc("c"), "vec_a", "vec_b")
        .limit(20)
    )
    assert [tuple(r) for r in naive.collect()] == [tuple(r) for r in blocked.collect()]


def test_grouped_gemm_kernels_declare_their_eval_type(spark):
    # each applyInPandas kernel annotates (key, pdf) -> pdf in full, so
    # building the query infers the grouped-map type instead of warning
    import warnings

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(S.EMB_DIM)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        S.topk_pairs_blocked(emb, k=5, n_blocks=2)
        S.semdedup_removed(emb, tau=0.9)
        S.knn_join_bucketed(emb, k=3)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_connected_components_resolves_chains(spark):
    # a~b, b~c (no a~c edge) must land in ONE component labeled min(a);
    # singletons keep their own label
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 9)], ["doc_id"])
    edges = spark.createDataFrame([(2, 3), (1, 2), (7, 9)], ["a", "b"])
    got = {
        (r.doc_id, r.component)
        for r in D.connected_components(nodes, edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}


def test_connected_components_long_chain_converges(spark):
    """A 400-link duplicate chain (diameter >> max_iter=25) must still
    resolve to ONE component with the min id as label: plain
    O(diameter) min-label propagation would silently return
    unconverged labels here; the pointer-jumping fold makes 25 rounds
    cover diameter 2^25."""
    from pyspark.sql import functions as F

    from mrc_spark_jobs_pubmed_spark.operators import dedup as D

    n = 400
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    out = D.connected_components(nodes, edges)
    labels = {r["doc_id"]: r["component"] for r in out.collect()}
    assert len(labels) == n
    assert set(labels.values()) == {0}
