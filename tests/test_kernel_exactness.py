"""Kernels against their definitional forms: the GEMM triplet miner,
exactly-once accounting of the binned interval join, the rate-limit
RANGE-peer contract and the interval-coalesce closed-form identities."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_triplet_gemm_equals_definitional(spark):
    """mine_triplets_gemm (GEMM prune + exact-fold rescore) must return
    exactly the rows of the definitional broadcast-join plan — same
    winner ids AND same cos_u6 integers (the direct rounded-GEMM form
    failed this at sf1 with +-1 flips; the margin+rescore design is
    what makes the kernel exact)."""
    from mrc_spark_jobs_pubmed_spark.operators import similarity as S
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    anchors = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ae"),
        F.col("label").alias("alabel"),
    )
    got = {
        (r.anchor, r.pos_id, r.pos_cos_u6, r.neg_id, r.neg_cos_u6)
        for r in S.mine_triplets_gemm(emb, anchors, chunks=8).collect()
    }
    scored = (
        emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor"))
        .select(
            "anchor",
            "alabel",
            "vec_id",
            "label",
            F.round(S.cosine_named("embedding", "ae") * 1000000)
            .cast("long")
            .alias("cos_u6"),
        )
    )
    neg = (
        scored.where(F.col("label") != F.col("alabel"))
        .groupBy("anchor")
        .agg(
            F.max(F.struct("cos_u6", (-F.col("vec_id")).alias("nid"))).alias(
                "m"
            )
        )
        .select(
            "anchor",
            (-F.col("m.nid")).alias("neg_id"),
            F.col("m.cos_u6").alias("neg_cos_u6"),
        )
    )
    pos = (
        scored.where(F.col("label") == F.col("alabel"))
        .groupBy("anchor")
        .agg(
            F.min(F.struct("cos_u6", F.col("vec_id").alias("pid"))).alias("m")
        )
        .select(
            "anchor",
            F.col("m.pid").alias("pos_id"),
            F.col("m.cos_u6").alias("pos_cos_u6"),
        )
    )
    want = {
        (r.anchor, r.pos_id, r.pos_cos_u6, r.neg_id, r.neg_cos_u6)
        for r in pos.join(neg, "anchor").collect()
    }
    assert got == want and len(want) > 0


def test_interval_overlap_exactly_once_vs_quadratic(spark):
    """The binned join's chunk-of-overlap-start rule must count every
    overlapping pair exactly once: compare against the definitional
    per-user quadratic join."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        OVL_CLICK_S,
        OVL_VIEW_S,
        rel_interval_overlap_join,
    )
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    got = {
        (r.user_id, r.n_pairs, r.overlap_ms, r.max_overlap_ms)
        for r in rel_interval_overlap_join(spark, SF).collect()
    }
    ev = load_table(spark, "events", SF)

    def side(etype, dur):
        return ev.where(F.col("event_type") == etype).select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + dur * 1_000_000).alias("e"),
        )

    v, c = side("view", OVL_VIEW_S).alias("v"), side(
        "click", OVL_CLICK_S
    ).alias("c")
    quad = (
        v.join(
            c,
            (F.col("v.user_id") == F.col("c.user_id"))
            & (F.col("v.s") < F.col("c.e"))
            & (F.col("c.s") < F.col("v.e")),
        )
        .select(
            F.col("v.user_id").alias("user_id"),
            F.expr(
                "CAST((least(v.e, c.e) - greatest(v.s, c.s)) div 1000"
                " AS BIGINT)"
            ).alias("ovl_ms"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("ovl_ms").cast("long").alias("overlap_ms"),
            F.max("ovl_ms").cast("long").alias("max_overlap_ms"),
        )
        .orderBy(F.desc("n_pairs"), F.desc("overlap_ms"), F.asc("user_id"))
        .limit(100)
    )
    want = {
        (r.user_id, r.n_pairs, r.overlap_ms, r.max_overlap_ms)
        for r in quad.collect()
    }
    assert got == want and len(want) > 0


def test_rate_limit_peers_share_decision(spark):
    """All events of a user at one instant must carry the same window
    count (RANGE-peer semantics): inject timestamp ties and check."""
    from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import (
        RATE_LIMIT_K,
        RATE_WINDOW_S,
    )

    rows = [
        (1, 1000, "a"),
        (2, 1000, "a"),  # tie with event 1
        (3, 1000 + RATE_WINDOW_S * 1_000_000, "a"),  # just inside? no: boundary
        (4, 2000 + RATE_WINDOW_S * 1_000_000, "a"),
    ]
    df = spark.createDataFrame(
        [(e, u, t) for e, t, u in [(r[0], r[1], 7) for r in rows]],
        "event_id long, user_id long, t_us long",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-(RATE_WINDOW_S * 1_000_000 - 1), 0)
    )
    out = {
        r.event_id: r.win_n
        for r in df.select(
            "event_id", F.count("*").over(w).alias("win_n")
        ).collect()
    }
    # events 1 and 2 are peers: identical count (both see both)
    assert out[1] == out[2] == 2
    # event 3 at t0 + W: the frame starts at t-W+1 so the tie pair has
    # aged out exactly at the boundary
    assert out[3] == 1
    assert RATE_LIMIT_K >= 1


def test_triplet_gemm_precomputed_counts_skip_count_actions(spark):
    """The adaptive default runs emb.count()/anchors.count();
    callers with expensive lineage can pass n_corpus/n_anchors instead.
    The precomputed-counts path must produce the identical result (same
    chunk arithmetic, zero count actions on the inputs)."""
    from unittest.mock import patch

    from mrc_spark_jobs_pubmed_spark.operators import similarity as S
    from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF)
    anchors = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("ae"),
        F.col("label").alias("alabel"),
    )
    nc, na = emb.count(), anchors.count()
    adaptive = sorted(
        map(tuple, S.mine_triplets_gemm(emb, anchors).collect())
    )
    with patch.object(type(emb), "count", side_effect=AssertionError("count action ran")):
        pre = S.mine_triplets_gemm(emb, anchors, n_corpus=nc, n_anchors=na)
        got = sorted(map(tuple, pre.collect()))
    assert got == adaptive


def test_interval_coalesce_identities_vs_brute_force(spark, tmp_path):
    """The single-pass closed-form identities (covered = sum of
    closed-island lengths + tail; longest = max of the same) must equal
    brute-force interval merging on adversarial inputs: ties on a_us,
    zero-length intervals, exact touching (a == prior max end, which
    MERGES), containment, duplicate spans, and random soups. Each
    scenario is its own user, so one Spark run covers them all — for
    BOTH the narrow plan and the range-sharded plan."""
    import os
    import random

    rng = random.Random(20260815)
    scenarios = {
        1: [(0, 10)],                          # single interval
        2: [(0, 10), (10, 5)],                 # exact touch -> merge
        3: [(0, 10), (11, 5)],                 # gap of 1 -> two islands
        4: [(0, 100), (5, 2), (50, 1)],        # containment
        5: [(0, 0), (0, 0), (5, 0)],           # zero-length + dup ties
        6: [(0, 5), (0, 7), (0, 3)],           # same start, diff ends
        7: [(i * 3, 2) for i in range(200)],   # long alternating chain
        8: [(i, 2) for i in range(200)],       # one long island
    }
    uid = 9
    for _ in range(40):  # random soups
        n = rng.randint(1, 60)
        scenarios[uid] = [
            (rng.randint(0, 500), rng.randint(0, 40)) for _ in range(n)
        ]
        uid += 1

    base_us = 1_704_067_200_000_000  # 2024-01-01, keeps µs in ts range
    rows, eid = [], 0
    for user, iv in scenarios.items():
        for a, ln in iv:
            # value * 10000 * Q_SVC_PER_U4(=100) µs of service: value=ln -> ln seconds
            rows.append((eid, (base_us + a * 1_000_000), user, "view", float(ln), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.expr("timestamp_micros(ts_us)").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf_dir = str(tmp_path / "prop_sf")
    df.coalesce(2).write.parquet(os.path.join(sf_dir, "events.parquet"))

    def brute(iv):
        pts = sorted((base_us + a * 10**6, base_us + a * 10**6 + ln * 10**6) for a, ln in iv)
        islands = []
        for s, e in pts:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        lens = [e - s for s, e in islands]
        return (len(islands), sum(lens), max(lens))

    expected = {u: brute(iv) for u, iv in scenarios.items()}
    from mrc_spark_jobs_pubmed_spark import plans
    for qname in ("rel_interval_coalesce", "rel_interval_coalesce_sharded"):
        got = {
            r.user_id: (r.n_islands, r.covered_us, r.longest_us)
            for r in plans.get(qname).fn(spark, sf_dir).collect()
        }
        assert got == expected, qname
