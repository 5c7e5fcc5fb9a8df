"""Structural invariants of query outputs, checked on sf0.001:
properties that must hold regardless of fixture content and that the
value-exact DuckDB differential does not state directly — partitioning
invariance (the determinism contract under a different shuffle layout),
exact reconciliation, cross-query equalities and conservation laws.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark import plans
from mrc_spark_jobs_pubmed_spark.plans.corpus_queries import cdc_chunk_rows
from mrc_spark_jobs_pubmed_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE as SF


def _q(spark, name):
    return plans.get(name).fn(spark, SF)


def _rows(spark, name):
    return {tuple(r) for r in _q(spark, name).collect()}


def _assert_partitioning_invariant(spark, names):
    base = {n: _rows(spark, n) for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            assert _rows(spark, n) == base[n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_partitioning_invariance(spark):
    """The integer-contract time-series/event queries must produce
    bit-identical rows under a radically different shuffle layout — the
    property that makes results diffable across cluster sizes at 100 TB."""
    _assert_partitioning_invariant(
        spark,
        [
            "rel_time_weighted_avg",
            "rel_concurrency_sweep",
            "rel_markov_transitions",
            "rel_ts_correlation",
            "rel_new_users_daily",
        ],
    )


def test_partitioning_invariance_integer_operators(spark):
    """The same determinism contract for the integer-arithmetic
    smoothing, allocation, graph and matching operators."""
    _assert_partitioning_invariant(
        spark,
        [
            "rel_ewma_smoothing",
            "rel_bitmap_distinct",
            "rel_budget_allocation",
            "graph_weighted_sssp",
            "graph_modularity",
            "text_textrank_keywords",
            "rel_waterfall_bridge",
            "rel_fifo_matching",
            "graph_bom_explosion",
        ],
    )


def test_zorder_key_is_invertible(spark):
    """De-interleaving the Morton key must recover both coordinates for
    every row — the property file-skipping correctness rests on."""
    out = _q(spark, "rel_zorder_layout")
    orders = load_table(spark, "orders", SF).select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("xk"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            % 65536
        ).alias("yk"),
    )
    xs = " + ".join(f"((zkey div {1 << (2 * i)}) % 2) * {1 << i}" for i in range(16))
    ys = " + ".join(
        f"((zkey div {1 << (2 * i + 1)}) % 2) * {1 << i}" for i in range(16)
    )
    dec = out.select(
        "o_orderkey", F.expr(xs).alias("dx"), F.expr(ys).alias("dy")
    )
    bad = (
        dec.join(orders, "o_orderkey")
        .filter((F.col("dx") != F.col("xk")) | (F.col("dy") != F.col("yk")))
        .count()
    )
    assert bad == 0


def test_funnel_stages_are_monotone(spark):
    row = _q(spark, "rel_funnel_steps").first()
    assert row.n_view >= row.n_click >= row.n_purchase > 0
    assert 0.0 <= row.click_to_purchase <= 1.0
    assert 0.0 <= row.view_to_click <= 1.0


def test_merge_upsert_action_counts(spark):
    docs = load_table(spark, "documents", SF)
    n = docs.count()
    n_upd = docs.filter(F.col("doc_id") % 7 == 0).count()
    n_ins = docs.filter(F.col("doc_id") % 13 == 0).count()
    got = {
        r.action: r.cnt
        for r in _q(spark, "corpus_merge_upsert")
        .groupBy("action")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got.get("update", 0) == n_upd
    assert got.get("insert", 0) == n_ins
    assert got.get("keep", 0) == n - n_upd


def test_pagerank_ranks_positive_and_typed(spark):
    rows = _q(spark, "graph_pagerank").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.rank_p12 > 0
        assert r.node_type == ("supplier" if r.node >= 10_000_000 else "customer")


def test_cdc_chunks_reassemble_to_original(spark):
    """Concatenating every doc's chunks in boundary order must rebuild
    the document exactly — chunking loses nothing."""
    docs = load_table(spark, "documents", SF)
    rebuilt = (
        cdc_chunk_rows(docs)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "chunk_text"))),
                    lambda z: z["chunk_text"],
                ),
                "",
            ).alias("rebuilt")
        )
    )
    bad = (
        rebuilt.join(docs, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_bpe_encode_symbol_bounds(spark):
    """Each token is >= 1 symbol; merging can only shrink the symbol
    count, bounded below by the token count and above by char count."""
    docs = load_table(spark, "documents", SF)
    enc = _q(spark, "text_bpe_encode")
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_chars"),
    )
    bad = (
        enc.join(chars, "doc_id")
        .filter(
            (F.col("n_bpe_symbols") < F.col("n_tokens"))
            | (F.col("n_bpe_symbols") > F.col("n_chars"))
        )
        .count()
    )
    assert bad == 0


def test_doc_sim_pairs_are_ordered_unit_cosines(spark):
    rows = _q(spark, "text_doc_sim_pairs").collect()
    assert rows
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 < r.cosine <= 1.0


def test_histogram_partitions_the_table(spark):
    n_orders = load_table(spark, "orders", SF).count()
    agg = _q(spark, "rel_histogram").agg(F.sum("n").alias("t")).first()
    assert agg.t == n_orders


def test_event_pattern_counts_nest(spark):
    bad = (
        _q(spark, "rel_event_pattern")
        .filter(
            (F.col("n_vcp") > F.col("n_vc")) | (F.col("n_vc") * 2 > F.col("n_events"))
        )
        .count()
    )
    assert bad == 0


def test_pca_vector_is_unit_norm(spark):
    rows = _q(spark, "emb_pca_power").collect()
    assert len(rows) == 64
    norm2 = sum(r.pc1 * r.pc1 for r in rows)
    assert abs(norm2 - 1.0) < 1e-3  # 6dp rounding of 64 components


def test_pq_adc_is_sorted_nonnegative(spark):
    rows = _q(spark, "sim_pq_adc_topk").collect()
    assert len(rows) == 10
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)
    assert len({r.vec_id for r in rows}) == 10


def test_salted_join_matches_plain_join(spark):
    """The salted rewrite must be exactly semantics-preserving (this is
    also the oracle, but assert it engine-side so a salt-logic change
    fails fast in unit tests)."""
    li = load_table(spark, "lineitem", SF)
    supp = load_table(spark, "supplier", SF)
    plain = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c4"),
            F.count("*").alias("n_lines"),
        )
    )
    got = {
        r.s_name: (r.revenue_c4, r.n_lines)
        for r in _q(spark, "rel_skew_salted_join").collect()
    }
    want = {r.s_name: (r.revenue_c4, r.n_lines) for r in plain.collect()}
    assert got == want


def test_m4_buckets_cover_all_points(spark):
    """M4 per-bucket counts must partition the event set exactly, and
    every bucket's first/last values must sit within [min, max]."""
    ev_n = load_table(spark, "events", SF).count()
    df = _q(spark, "rel_ts_downsample_m4")
    agg = df.agg(F.sum("n_points").alias("s")).collect()[0]
    assert agg.s == ev_n
    bad = df.where(
        (F.col("v_first_u4") < F.col("v_min_u4"))
        | (F.col("v_first_u4") > F.col("v_max_u4"))
        | (F.col("v_last_u4") < F.col("v_min_u4"))
        | (F.col("v_last_u4") > F.col("v_max_u4"))
        | (F.col("t_first_us") > F.col("t_last_us"))
    ).count()
    assert bad == 0


def test_markov_probabilities_normalize(spark):
    """Transition counts must sum to the per-source total, and the
    integer probabilities to <= 1e6 per source (truncating division
    loses at most |dst| micro-units)."""
    df = _q(spark, "rel_markov_transitions")
    rows = df.collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    assert by_src
    for src, rs in by_src.items():
        n_src = rs[0].n_src
        assert sum(r.n_trans for r in rs) == n_src, src
        p_sum = sum(r.p_u6 for r in rs)
        assert 1_000_000 - len(rs) <= p_sum <= 1_000_000, src


def test_multitouch_values_reconcile(spark):
    """Linear attribution must conserve value: per-channel attributed
    micro-units sum exactly to total purchase value — the property the
    integer remainder-to-first-touch split exists for."""
    ev = load_table(spark, "events", SF)
    total = (
        ev.where(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("t"))
        .collect()[0]
        .t
    )
    df = _q(spark, "rel_multitouch_attribution")
    attributed = df.agg(F.sum("attributed_u4").alias("s")).collect()[0].s
    assert attributed == total


def test_concurrency_peak_bounds(spark):
    """The sweep-line peak is at least 1 and no more than the interval
    count; the peak instant carries the per-type maximum."""
    for r in _q(spark, "rel_concurrency_sweep").collect():
        assert 1 <= r.peak_concurrency <= r.n_intervals


def test_simhash_spanning_edges_preserve_clusters(spark):
    """Contract: dedup_simhash_hamming emits SPANNING edges (star
    within identical fingerprints + one edge per near-dup signature
    pair), not the clone-quadratic full enumeration. The guarantees
    that replace the old aggregate-consistency check:

    1. every spanning edge appears in the full enumeration (subset),
    2. union-find over spanning edges and over the full enumeration
       produce IDENTICAL clusters (same node set, same partition),
    3. the edge count is linear: (docs - distinct_sigs) + sig_pairs.
    """
    from mrc_spark_jobs_pubmed_spark.operators import dedup as D
    from mrc_spark_jobs_pubmed_spark.plans.dedup_queries import (
        _simhash_banded_pairs,
    )

    spanning = [
        (r.doc_a, r.doc_b)
        for r in _q(spark, "dedup_simhash_hamming").collect()
    ]
    sig = D.simhash_fingerprints(load_table(spark, "documents", SF))
    full = [
        (r.doc_a, r.doc_b) for r in _simhash_banded_pairs(sig).collect()
    ]
    assert set(spanning) <= set(full)
    assert len(spanning) < len(full) or len(spanning) == len(full)

    def clusters(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out: dict[int, set] = {}
        for n in parent:
            out.setdefault(find(n), set()).add(n)
        return {frozenset(v) for v in out.values()}

    assert clusters(spanning) == clusters(full)

    rows = sig.groupBy("simhash").count().collect()
    n_docs = sum(r["count"] for r in rows)
    n_sigs = len(rows)
    n_sig_pairs = len(
        {
            (min(a, b), max(a, b))
            for (a, b), h in (
                ((p.doc_a, p.doc_b), p.hamming)
                for p in _q(spark, "dedup_simhash_hamming").collect()
            )
            if h > 0
        }
    )
    assert len(spanning) == (n_docs - n_sigs) + n_sig_pairs


def test_budget_allocation_reconciles_exactly(spark):
    """Largest-remainder shares must sum to EXACTLY the budget — the
    property the method exists for."""
    from mrc_spark_jobs_pubmed_spark.plans.extra_queries import ALLOC_BUDGET

    rows = _q(spark, "rel_budget_allocation").collect()
    assert sum(r.alloc_bp for r in rows) == ALLOC_BUDGET
    assert sum(r.extra for r in rows) == ALLOC_BUDGET - sum(
        r.base_alloc for r in rows
    )


def test_bitmap_distinct_equals_count_distinct(spark):
    """The bitmap popcount is an EXACT distinct — must equal
    COUNT(DISTINCT user_id) per day, not approximate it."""
    got = {
        r.day: r.n_users_bitmap
        for r in _q(spark, "rel_bitmap_distinct").collect()
    }
    ev = load_table(spark, "events", SF)
    want = {
        r.day: r.n
        for r in ev.groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_waterfall_bridge_decomposition_reconciles(spark):
    """volume_effect + price_effect == delta for every segment — exact,
    by the residual construction."""
    rows = _q(spark, "rel_waterfall_bridge").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.volume_effect_cents + r.price_effect_cents == r.delta_cents
        assert r.delta_cents == r.cents_new - r.cents_old


def test_fifo_matching_conservation(spark):
    """Matched pairs = sum over users of min(views, purchases): FIFO
    1:1 matching can neither create nor drop pairs."""
    ev = load_table(spark, "events", SF)
    per_user = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
        )
        .select(F.least("v", "p").alias("m"))
        .agg(F.sum("m").alias("t"))
        .collect()[0]
    )
    got = _q(spark, "rel_fifo_matching").collect()[0]
    assert got.n_matched == per_user.t
    assert got.n_matched <= min(got.n_views, got.n_purchases)


def test_modularity_members_match_lpa(spark):
    """graph_modularity and graph_label_propagation must agree on the
    community partition (same sizes for the communities both report) —
    they share one LPA core by construction."""
    mod = {
        r.community: r.n_members for r in _q(spark, "graph_modularity").collect()
    }
    lpa = {
        r.community: r.n_members
        for r in _q(spark, "graph_label_propagation").collect()
    }
    assert mod and all(lpa.get(c) == n for c, n in mod.items())


def test_asof_nearest_is_closer_than_other_side(spark):
    """The chosen side must actually be the nearer one, and prior/next
    must bracket the click."""
    rows = _q(spark, "rel_asof_nearest").collect()
    assert len(rows) > 0
    for r in rows:
        if r.prior_us is not None:
            assert r.prior_us <= r.t_us
        if r.next_us is not None:
            assert r.next_us > r.t_us
        if r.prior_us is not None and r.next_us is not None:
            d_prior = r.t_us - r.prior_us
            d_next = r.next_us - r.t_us
            if r.direction == "prior":
                assert d_prior <= d_next
            else:
                assert d_next < d_prior


def test_phash_pairs_within_threshold_and_symmetric_free(spark):
    """Every reported pair respects the hamming gate and appears once
    (a < b) — no symmetric duplicates from the two-band union."""
    from mrc_spark_jobs_pubmed_spark.plans.mm_queries import PHASH_MAX_HAM

    rows = _q(spark, "mm_phash_neardup").collect()
    seen = set()
    for r in rows:
        assert r.media_a < r.media_b
        assert 0 <= r.hamming <= PHASH_MAX_HAM
        assert (r.media_a, r.media_b) not in seen
        seen.add((r.media_a, r.media_b))
