"""Round-10 replan pins — the shipped small fixtures don't exercise the
distributed machinery these rewrites add, so each gets a doctored
fixture that does:

1. rel_out_of_order_metrics shards its running max by
   (type, event_id div 2^22); bench-sf event_ids are dense < 1e5 (one
   chunk), so multi-chunk carry composition is pinned here on ids
   spread across ~12 chunks, with one type's first event poisoned to a
   far-future timestamp so EVERY later chunk depends on the chunk-0
   carry.
2. emb_clip_calibration picks nearest-rank order statistics via a
   bucket-then-refine; massive cross-bucket ties are pinned here by
   coarse-quantizing the embedding components.

Both compare Spark against the query's own DuckDB oracle on the
doctored data — same harness as the driver gate.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark import oracle, plans
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
    q = plans.all_queries()[name]
    verdict, got = oracle.check(spark, oracle.duck_views(duck, sf_dir), q, sf_dir)
    assert verdict is None, verdict
    assert len(got.frame) > 0
    return got.frame


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

    got = _check(spark, duck, "rel_out_of_order_metrics", d)
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
    got = _check(spark, duck, "emb_clip_calibration", d)
    assert len(got) == 64
    # ties must actually exist: with 64-level quantization the p01/p99
    # values land on the 15625-unit grid
    assert (got["p01_u6"] % 15625 == 0).all()
    assert (got["p99_u6"] % 15625 == 0).all()
