"""Inputs the shipped fixtures never contain. The small fixtures do not
exercise every branch a plan relies on, so each case gets a doctored
fixture (one table changed, every other table cut to one row) that does,
and compares Spark against the query's own DuckDB oracle on it, the same
harness as the driver gate:

1. rel_out_of_order_metrics shards its running max by
   (type, event_id div 2^22); bench-sf event_ids are dense < 1e5 (one
   chunk), so multi-chunk carry composition is pinned here on ids
   spread across ~12 chunks, with one type's first event poisoned to a
   far-future timestamp so EVERY later chunk depends on the chunk-0
   carry.
2. emb_clip_calibration picks nearest-rank order statistics via a
   bucket-then-refine; massive cross-bucket ties are pinned here by
   coarse-quantizing the embedding components.
3. emb_silhouette on a SINGLE-LABEL corpus: b is NULL for every point;
   Spark's greatest() skips NULLs while the oracle's CASE propagates
   them. Both engines must return NULL den_sum / NULL macro_silhouette.
4. rel_agg_stats with NULL event values: quantile_cont ignores NULLs,
   including in a group whose values are ALL NULL (NULL percentiles,
   group kept).

Plus the contract breaks that must fail loudly rather than answer
wrongly (connected_components with STRING ids, sim_reciprocal_nn with a
DUPLICATED rank-1 row), and the fixture precondition rel_q18's hoisted
LIMIT rests on (no orphan o_custkey).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark import oracle, plans
from mrc_spark_jobs_pubmed_spark.operators import dedup as D
from mrc_spark_jobs_pubmed_spark.plans import similarity_queries
from mrc_spark_jobs_pubmed_spark.plans.timeseries_queries import OOO_CHUNK_IDS
from mrc_spark_jobs_pubmed_spark.sources import catalog
from tests.conftest import SF_SMOKE


def _doctored_dir(spark, tmp_path, table: str, doctor) -> str:
    d = str(tmp_path / f"doctored_{table}")
    os.makedirs(d, exist_ok=True)
    for name in catalog.TABLE_SCHEMAS:
        df = catalog.load_table(spark, name, SF_SMOKE)
        df = doctor(df) if name == table else df.limit(1)
        df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))
    return d


def _check(spark, duck, name: str, sf_dir: str):
    """The query's result on `sf_dir`, asserted equal to its oracle and
    non-empty."""
    q = plans.all_queries()[name]
    verdict, got = oracle.check(spark, oracle.duck_views(duck, sf_dir), q, sf_dir)
    assert verdict is None, verdict
    assert got.table.num_rows > 0
    return got


def test_out_of_order_carries_compose_across_chunks(spark, duck, tmp_path):
    """event_id * 50021 spreads the smoke fixture's dense ids across ~12
    carry chunks (multiplication preserves the order the oracle windows
    by); the globally-first event of one type is pushed to 2031 so every
    later row of that type — in every chunk — is late only if the
    chunk-0 carry propagates."""

    def doctor(ev):
        return ev.withColumn(
            "event_id", F.col("event_id") * F.lit(50021)
        ).withColumn(
            "ts",
            F.when(
                F.col("event_id") == 0,
                F.to_timestamp(F.lit("2031-01-01 00:00:00")),
            ).otherwise(F.col("ts")),
        )

    d = _doctored_dir(spark, tmp_path, "events", doctor)
    n_chunks = (
        catalog.load_table(spark, "events", d)
        .select((F.col("event_id") / OOO_CHUNK_IDS).cast("long"))
        .distinct()
        .count()
    )
    assert n_chunks > 1, "fixture must span multiple carry chunks"

    got = _check(spark, duck, "rel_out_of_order_metrics", d).frame
    assert got["n_late"].max() > 0, "the poisoned carry must mark late rows"


def test_clip_calibration_exact_under_cross_bucket_ties(spark, duck, tmp_path):
    """Coarse-quantize components to multiples of 1/64 — thousands of
    exact ties per distinct value, values straddling refine-bucket
    boundaries — and pin nearest-rank exactness against the oracle."""

    def doctor(emb):
        return emb.withColumn(
            "embedding",
            F.expr(
                "transform(embedding,"
                " x -> cast(round(cast(x as double) * 64) / 64 as float))"
            ),
        )

    d = _doctored_dir(spark, tmp_path, "embeddings", doctor)
    got = _check(spark, duck, "emb_clip_calibration", d).frame
    assert len(got) == 64
    # ties must actually exist: with 64-level quantization the p01/p99
    # values land on the 15625-unit grid
    assert (got["p01_u6"] % 15625 == 0).all()
    assert (got["p99_u6"] % 15625 == 0).all()


def test_silhouette_single_label_matches_oracle(spark, duck, tmp_path):
    """One label in the whole corpus: every point's inter-cluster b is
    NULL. Engines must agree (NULL den_sum, NULL macro), not diverge on
    greatest-vs-CASE null handling."""
    d = _doctored_dir(
        spark, tmp_path, "embeddings",
        lambda emb: emb.limit(12).withColumn("label", F.lit(0)),
    )
    got = _check(spark, duck, "emb_silhouette", d)
    assert got.table.num_rows == 1
    # Arrow keeps NULL apart from NaN (pandas shows both as NaN)
    assert got.table["den_sum"].null_count == 1
    assert got.table["macro_silhouette"].null_count == 1


def test_agg_stats_null_values_match_oracle(spark, duck, tmp_path):
    """events.value NULLs: count(*)/avg/sd keep the oracle's count(*)
    denominators while percentiles ignore NULLs (quantile_cont
    semantics). One event_type gets ~20% NULL values, another becomes
    ALL-NULL — the all-null group must survive with NULL percentiles."""

    def doctor(ev):
        types = [r[0] for r in ev.select("event_type").distinct().collect()]
        return ev.withColumn(
            "value",
            F.when(F.col("event_type") == min(types), F.lit(None))
            .when(F.col("event_id") % 5 == 0, F.lit(None))
            .otherwise(F.col("value")),
        )

    got = _check(spark, duck, "rel_agg_stats", _doctored_dir(spark, tmp_path, "events", doctor))
    # NULL, not NaN: Arrow keeps them apart (pandas shows both as NaN)
    assert got.table["p50"].null_count > 0, "the all-NULL group must be kept with NULL percentiles"


def test_connected_components_rejects_string_ids(spark):
    nodes = spark.createDataFrame([("x",), ("y",)], ["doc_id"])
    edges = spark.createDataFrame([("x", "y")], ["a", "b"])
    try:
        D.connected_components(nodes, edges)
    except TypeError as e:
        assert "NUMERIC" in str(e)
    else:
        raise AssertionError("string ids must raise, not silently singleton")


def test_reciprocal_nn_rejects_duplicate_rank1_rows(spark, monkeypatch):
    """A duplicated rank-1 row for ONE vector must not register as a
    reciprocal pair (and must not emit a NULL cosine); a genuine mutual
    pair must survive the countDistinct guard."""

    def fake_knn(emb, k):  # noqa: ARG001 — signature parity with the real op
        return spark.createDataFrame(
            [
                # genuine reciprocal pair 1<->2
                (1, 2, 0.91),
                (2, 1, 0.91),
                # contract break: vec 5's rank-1 row emitted TWICE,
                # nothing points back — high-id side only, so cos_lo is
                # all-NULL and the old count(*)==2 test would emit a
                # fabricated (4, 5, NULL) pair
                (5, 4, 0.33),
                (5, 4, 0.33),
            ],
            ["vec_id", "neighbor_id", "cosine"],
        )

    monkeypatch.setattr(similarity_queries.S, "knn_join_bucketed", fake_knn)
    rows = similarity_queries.sim_reciprocal_nn(spark, SF_SMOKE).collect()
    assert [(r.vec_a, r.vec_b, r.cosine) for r in rows] == [(1, 2, 0.91)]


def test_shipped_fixtures_have_no_orphan_custkeys():
    """rel_q18's hoisted LIMIT is exact only under o_custkey referential
    integrity; assert the shipped fixtures satisfy it at every sf."""
    import duckdb

    root = os.path.dirname(SF_SMOKE)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        n = con.execute(
            f"""
            SELECT count(*) FROM read_parquet('{root}/{sf}/orders.parquet') o
            WHERE NOT EXISTS (
              SELECT 1 FROM read_parquet('{root}/{sf}/customer.parquet') c
              WHERE c.c_custkey = o.o_custkey)
            """
        ).fetchone()[0]
        con.close()
        assert n == 0, f"{sf}: {n} orphan o_custkey rows break q18's precondition"
