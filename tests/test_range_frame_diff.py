"""Skew contract for the RANGE-frame escape hatch (r9).

r8 left the bounded-RANGE-frame skew caveat as prose on the
certification row (`rel_window_range_frame`); the r8 verdict asked for
the escape hatch to be a REGISTERED, oracle-checked variant (the
`interval_coalesce_sharded` precedent) so hot-key guidance is
executable. `rel_window_range_frame_diff` computes the identical
rolling-90-day-spend semantics via the +c/-c difference stream read
through a running UNBOUNDED PRECEDING sum — the one frame Spark
evaluates incrementally — instead of the bounded sliding frame Spark
re-aggregates per output row (O(rows x in-frame rows) on a hot key;
jstack receipt in PERF.md r8).

These tests pin (1) the plan SHAPE — no bounded RangeFrame may
reappear in the escape hatch; (2) hot-key VALUE equality against a
brute-force per-row reference on a fixture where one customer owns
~95% of orders with distinct-second timestamps (the regime where the
bounded frame is quadratic); (3) same-instant peers all read the full
peer-group sum, matching RANGE peer semantics. The measured crossover
vs the bounded-frame plan lives in RANGE_FRAME_AB_r9.json.
"""

from __future__ import annotations

import datetime

from mrc_spark_jobs_pubmed_spark import plans

SF_SMOKE = "/root/testdata/sf0.001"

W_S = 90 * 24 * 3600


def test_range_frame_diff_plan_has_no_bounded_range_frame(spark):
    df = plans.get("rel_window_range_frame_diff").fn(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "RangeFrame" not in plan, (
        "rel_window_range_frame_diff regressed to a bounded RANGE "
        "frame — the whole point of this row is the linear "
        "difference-stream form (r8 jstack receipt in PERF.md)"
    )
    assert "unboundedpreceding" in plan.lower()


def _orders_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    )


def test_range_frame_diff_hot_key_values(spark, tmp_path):
    """One customer holds 500 orders at distinct seconds inside one
    90-day span (every row in every later row's frame — the quadratic
    regime for the bounded plan); compare against a brute-force
    per-row reference computed straight from the frame definition:
    spend(r) = sum cents of the customer's orders in [t_r - W, t_r]."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(500):
        rows.append(
            (i, 7, t0 + datetime.timedelta(seconds=i * 977), 1.0 + i)
        )
    # a couple of rows outside the window to exercise expiry
    rows.append((9001, 7, t0 - datetime.timedelta(days=91), 100.0))
    rows.append((9002, 7, t0 + datetime.timedelta(days=200), 50.0))
    # cold customers
    for u in range(1, 25):
        rows.append(
            (10_000 + u, u, t0 + datetime.timedelta(hours=u), 10.0 * u)
        )
    _orders_df(spark, rows).coalesce(1).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    got = {
        (r.o_orderkey, r.o_custkey): r.spend_90d
        for r in plans.get("rel_window_range_frame_diff")
        .fn(spark, str(tmp_path))
        .collect()
    }
    by_cust: dict[int, list[tuple[int, int]]] = {}
    for _k, u, ts, p in rows:
        by_cust.setdefault(u, []).append(
            (int(ts.timestamp()), round(p * 100))
        )
    want = {}
    for k, u, ts, _p in rows:
        t = int(ts.timestamp())
        want[(k, u)] = (
            sum(c for s, c in by_cust[u] if t - W_S <= s <= t) / 100.0
        )
    assert got == want


def test_range_frame_diff_same_instant_peers_share_sum(spark, tmp_path):
    """RANGE peers (same ordering-key value) all see the whole peer
    group's sum; the difference stream must reproduce that by
    aggregating contributions per (cust, instant) before readout."""
    t0 = datetime.datetime(2024, 3, 1)
    rows = [(i, 5, t0, 2.0) for i in range(4)]
    _orders_df(spark, rows).coalesce(1).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    got = (
        plans.get("rel_window_range_frame_diff")
        .fn(spark, str(tmp_path))
        .collect()
    )
    assert sorted((r.o_orderkey, r.spend_90d) for r in got) == [
        (0, 8.0),
        (1, 8.0),
        (2, 8.0),
        (3, 8.0),
    ]
