"""Round-9 ADVICE regressions — fixture-dependent-equivalence classes
flagged by the r9 review:

1. rel_agg_stats with NULL event values: quantile_cont ignores NULLs
   while the old histogram walk let the NULL group sort first in the
   cumulative window and indexed positions off count(*). Pinned: both
   engines value-equal on a null-bearing fixture, including a group
   whose values are ALL NULL (NULL percentiles, group kept).
2. rel_q18_big_orders hoists LIMIT 20 above the customer join — valid
   only while orders.o_custkey has no orphans. Pinned: the shipped
   fixtures carry zero orphan custkeys (the precondition the plan
   states), asserted via rel_data_quality's orphan check.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mrc_spark_jobs_pubmed_spark import oracle, plans
from mrc_spark_jobs_pubmed_spark.sources import catalog
from tests.conftest import SF_SMOKE


def test_agg_stats_null_values_match_oracle(spark, duck, tmp_path):
    """events.value NULLs: count(*)/avg/sd keep the oracle's count(*)
    denominators while percentiles ignore NULLs (quantile_cont
    semantics). One event_type gets ~20% NULL values, another becomes
    ALL-NULL — the all-null group must survive with NULL percentiles."""
    d = str(tmp_path / "null_values_sf")
    os.makedirs(d, exist_ok=True)
    for name in catalog.TABLE_SCHEMAS:
        df = catalog.load_table(spark, name, SF_SMOKE)
        if name == "events":
            types = [r[0] for r in df.select("event_type").distinct().collect()]
            all_null_type = sorted(types)[0]
            df = df.withColumn(
                "value",
                F.when(F.col("event_type") == all_null_type, F.lit(None))
                .when(F.col("event_id") % 5 == 0, F.lit(None))
                .otherwise(F.col("value")),
            )
        else:
            df = df.limit(1)
        df.write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))

    q = plans.all_queries()["rel_agg_stats"]
    verdict, got = oracle.check(spark, oracle.duck_views(duck, d), q, d)

    assert verdict is None, verdict
    assert got.table.num_rows > 0
    # NULL, not NaN: Arrow keeps them apart (pandas shows both as NaN)
    assert got.table["p50"].null_count > 0, "the all-NULL group must be kept with NULL percentiles"


def test_shipped_fixtures_have_no_orphan_custkeys():
    """rel_q18's hoisted LIMIT is exact only under o_custkey referential
    integrity; assert the shipped fixtures satisfy it at every sf."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        n = con.execute(
            f"""
            SELECT count(*) FROM read_parquet('/root/testdata/{sf}/orders.parquet') o
            WHERE NOT EXISTS (
              SELECT 1 FROM read_parquet('/root/testdata/{sf}/customer.parquet') c
              WHERE c.c_custkey = o.o_custkey)
            """
        ).fetchone()[0]
        con.close()
        assert n == 0, f"{sf}: {n} orphan o_custkey rows break q18's precondition"
