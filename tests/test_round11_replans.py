"""Round-11 replan regression tests.

Each optimization that restructured an operator's internals gets a
fixture that exercises the property the rewrite leans on:

* rel_q21: the one-pass per-order aggregate must reproduce the
  EXISTS/NOT-EXISTS semantics on orders engineered to sit on every
  branch boundary (single-supplier late order, two-late-supplier order,
  duplicate (order, supplier) lines with mixed flags).
* graph_kcore: the keep-set-only loop (g_{i+1} = g0 ⋉ K_i) must match
  the definitional per-round peel on a graph whose core erodes across
  MULTIPLE rounds (a chain of hubs that drop one round apart).
* topk_per_query_gemm: the GEMM prune + exact rescore must keep the
  lexicographically-first ids inside 6dp rounded tie groups (clone
  vectors straddling the k boundary).
* resize_media (mapInArrow): the tiling branch (len(content) <
  target_len) and the empty-blob branch must match the old per-row
  Python reference bytes exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark.plans.tpch_more_queries import waiting_suppliers
from mrc_spark_jobs_pubmed_spark.session import get_session


@pytest.fixture(scope="module")
def spark():
    return get_session(app_name="r11-replan-tests")


def test_q21_one_pass_aggregate_matches_definitional(spark):
    # lineitem: (l_orderkey, l_suppkey, l_returnflag)
    li_rows = [
        # order 1: sole-blame supplier 10 (late), other supplier 11 -> COUNTS
        (1, 10, "R"), (1, 11, "N"),
        # order 2: two late suppliers -> excluded (NOT EXISTS fails)
        (2, 10, "R"), (2, 12, "R"),
        # order 3: single-supplier order, late -> excluded (EXISTS fails)
        (3, 10, "R"),
        # order 4: duplicate (order, supplier) lines, mixed flags — the
        # pair dedup must collapse them; supplier 13 late once -> COUNTS
        (4, 13, "R"), (4, 13, "N"), (4, 14, "N"), (4, 14, "N"),
        # order 5: no late line -> contributes nothing
        (5, 10, "N"), (5, 11, "N"),
        # order 6: status O below -> excluded by the orders filter
        (6, 10, "R"), (6, 11, "N"),
    ]
    li = spark.createDataFrame(
        li_rows, "l_orderkey long, l_suppkey long, l_returnflag string"
    )
    orders = spark.createDataFrame(
        [(1, "F"), (2, "F"), (3, "F"), (4, "F"), (5, "F"), (6, "O")],
        "o_orderkey long, o_orderstatus string",
    )
    supp = spark.createDataFrame(
        [(10, "Supp#10"), (11, "Supp#11"), (12, "Supp#12"),
         (13, "Supp#13"), (14, "Supp#14")],
        "s_suppkey long, s_name string",
    )
    # the shipped plan itself (early F-order left-semi + SHUFFLE_HASH,
    # then the one-pass per-order aggregate)
    got = waiting_suppliers(li, orders, supp).collect()
    assert [(r["s_name"], r["numwait"]) for r in got] == [
        ("Supp#10", 1),  # order 1
        ("Supp#13", 1),  # order 4
    ]


def test_kcore_keepset_loop_matches_per_round_peel(spark):
    from mrc_spark_jobs_pubmed_spark.plans.graph_queries import KCORE_ROUNDS

    # k=2 core on a pendant chain that erodes one node per round:
    # triangle 1-2-3 (stable 2-core), 4 bridges 3 and 5, 5 is a leaf.
    # Round 1 drops 5 (deg 1), round 2 drops 4 (deg 1 after 5 left) —
    # multi-round decay, so the K_{i+1} ⊆ K_i composition is exercised.
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    k = 2

    def deg_keep(g):
        return (
            g.groupBy("src").agg(F.count("*").alias("c"))
            .where(F.col("c") >= k).select("src")
        )

    # definitional per-round peel (the r10 shape)
    g_def = edges
    for _ in range(KCORE_ROUNDS):
        keep = deg_keep(g_def)
        g_def = (
            g_def.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )
    # keep-set-only loop (the r11 shape)
    keep = None
    for _ in range(KCORE_ROUNDS):
        g_i = edges if keep is None else (
            edges.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )
        keep = deg_keep(g_i)
    g_new = (
        edges.join(keep, "src")
        .join(keep.select(F.col("src").alias("dst")), "dst")
        .select("src", "dst")
    )
    assert sorted(map(tuple, g_def.collect())) == sorted(
        map(tuple, g_new.collect())
    )
    # and the fixture really erodes over two rounds: 5 leaves, then 4
    survivors = {r["src"] for r in g_new.select("src").distinct().collect()}
    assert survivors == {1, 2, 3}


def test_topk_gemm_prune_keeps_rounded_tie_order(spark, monkeypatch):
    import math

    from mrc_spark_jobs_pubmed_spark.operators import similarity as S
    from mrc_spark_jobs_pubmed_spark.operators.similarity import (
        topk_per_query_gemm,
    )

    # force the GEMM branch (the size dispatch would route a 33-row
    # fixture to the expression form, which is not what this test pins)
    monkeypatch.setattr(S, "GEMM_MIN_ROWS", 0)

    # query vector 0 along e1; corpus: many clones at the same rounded
    # cosine (tie group bigger than k) plus distractors — the exact
    # top-k must be the lowest ids within the tie group.
    dim = 64

    def vec(theta):
        v = [0.0] * dim
        v[0] = math.cos(theta)
        v[1] = math.sin(theta)
        return v

    rows = [(0, vec(0.0), 0)]
    # 12 clones at angle a (cosine ~0.9950042): rounded-equal, ids 10..21
    for i in range(12):
        rows.append((10 + i, vec(0.1), 0))
    # distractors further away
    for i in range(20):
        rows.append((100 + i, vec(0.5 + i * 0.01), 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = topk_per_query_gemm(emb, q_n=1, k=5).collect()
    got = sorted((r["qid"], r["rnk"], r["vec_id"]) for r in out)
    # ranks 1..5 must be the five LOWEST clone ids, in id order
    assert got == [(0, 1, 10), (0, 2, 11), (0, 3, 12), (0, 4, 13), (0, 5, 14)]


def test_topk_gemm_branch_matches_expression_branch(spark, monkeypatch):
    # the size dispatch is only sound because both branches are exact:
    # pin row-for-row equality on a mixed fixture (ties + spread)
    import math

    from mrc_spark_jobs_pubmed_spark.operators import similarity as S

    dim = 64
    rows = []
    for i in range(120):
        v = [0.0] * dim
        v[0] = math.cos(i * 0.03)
        v[1] = math.sin(i * 0.03)
        v[2] = 0.001 * (i % 7)
        rows.append((i, v, i % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(S, "GEMM_MIN_ROWS", 0)
    gemm = sorted(
        (r["qid"], r["rnk"], r["vec_id"], r["cosine"])
        for r in S.topk_per_query_gemm(emb, q_n=3, k=10).collect()
    )
    monkeypatch.setattr(S, "GEMM_MIN_ROWS", 10**9)
    expr = sorted(
        (r["qid"], r["rnk"], r["vec_id"], r["cosine"])
        for r in S.topk_per_query_gemm(emb, q_n=3, k=10).collect()
    )
    assert gemm == expr


def test_resize_media_tiling_and_empty_match_reference(spark):
    from mrc_spark_jobs_pubmed_spark.operators.multimodal import (
        MEDIA_SCHEMA, resize_media,
    )

    blobs = [b"abc", b"", b"x" * 500, b"0123456789" * 7]
    rows = [
        (i, "image", bytearray(b), (1, 2, 16000, 1000, "mock"))
        for i, b in enumerate(blobs)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_media(df, 64, 48).collect()}
    target_len = 64 * 48 // 64 + 16
    for i, b in enumerate(blobs):
        ref = (b * (target_len // max(len(b), 1) + 1))[:target_len]
        assert bytes(out[i]["content"]) == ref, i
        assert out[i]["meta"]["width"] == 64 and out[i]["meta"]["height"] == 48
        assert out[i]["meta"]["format"] == "mock"


def test_retrieval_metrics_gemm_branch_matches_inline_branch(spark, monkeypatch):
    # sim_retrieval_metrics dispatches on RM_GEMM_MIN_ROWS (r11): above
    # it the per-query top-k comes from the shared GEMM stage with
    # labels re-attached by broadcast joins; below it the definitional
    # inline window keeps label in the single scan. The dispatch is
    # only sound because both branches produce identical metric rows —
    # pin that on the real sf0.001 fixture (exercises ties, label
    # joins, and the n_relevant side identically through both paths).
    from mrc_spark_jobs_pubmed_spark.operators import similarity as S
    from mrc_spark_jobs_pubmed_spark.plans import similarity_queries as SQ

    sf_dir = "/root/testdata/sf0.001"

    # both thresholds: the shared stage dispatches again on its own
    # GEMM_MIN_ROWS, and the fixture is far below it, so without the
    # second patch this leg would rank with the expression form
    monkeypatch.setattr(SQ, "RM_GEMM_MIN_ROWS", 0)
    monkeypatch.setattr(S, "GEMM_MIN_ROWS", 0)
    gemm = sorted(
        tuple(r) for r in SQ.sim_retrieval_metrics(spark, sf_dir).collect()
    )
    monkeypatch.setattr(SQ, "RM_GEMM_MIN_ROWS", 10**18)
    inline = sorted(
        tuple(r) for r in SQ.sim_retrieval_metrics(spark, sf_dir).collect()
    )
    assert gemm == inline
    assert len(gemm) > 0


def test_estimate_rows_reads_plan_stats_not_local_files(spark, monkeypatch):
    # the GEMM size dispatch must not assume a local filesystem: the
    # estimate comes from Catalyst's size statistic, which for a parquet
    # scan equals the files' byte sum (the old os.path.getsize estimate)
    import os

    from mrc_spark_jobs_pubmed_spark.operators import similarity as S
    from mrc_spark_jobs_pubmed_spark.plans import similarity_queries as SQ
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, "embeddings", sf_dir)
    file_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in emb.inputFiles()
    )
    assert S.estimate_rows(emb) == file_bytes // 256 > 0
    # an RDD-backed in-memory frame has unknown size: 0 rows, as a frame
    # with no input files always counted
    mem = spark.createDataFrame(
        [(0, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    assert S.estimate_rows(mem) == 0
    # object-store input paths: both dispatch sites still build
    monkeypatch.setattr(
        type(emb), "inputFiles", lambda self: ["s3a://bucket/embeddings/part-0.parquet"]
    )
    assert S.topk_per_query_gemm(emb, q_n=3, k=5).columns
    assert SQ.sim_retrieval_metrics(spark, sf_dir).columns
