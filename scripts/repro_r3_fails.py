"""Reproduce the 4 CORRECTNESS_r03 hash mismatches under a bone-stock
SparkSession (the driver builds its own session, not ours — so no UTC
pin, no shuffle-partition pin, no legacy nanos flag). Each query must
pass `oracle.compare` with floats rounded to 17 decimal places.

Usage: python scripts/repro_r3_fails.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, ".")

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
FOUR = [
    "text_bpe_merges",
    "rel_skew_salted_join",
    "graph_pagerank",
    "stream_chained_rollup",
    # round-4b: the unrounded-double contract queries — their oracles
    # must CAST to DOUBLE (a bare `* 1.0` types as DECIMAL in DuckDB,
    # whose exact product + single sqrt rounding diverges from the
    # double path by 1 ulp; caught by this harness)
    "rel_ts_correlation",
    "emb_label_centroid_drift",
]


def main() -> int:
    names = sys.argv[1:] or FOUR
    from pyspark.sql import SparkSession

    # Bone-stock: exactly what an external harness would build.
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("repro")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    print("session tz:", spark.conf.get("spark.sql.session.timeZone"))
    print("shuffle:", spark.conf.get("spark.sql.shuffle.partitions"))
    print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))

    from mrc_spark_jobs_pubmed_spark import oracle, plans

    con = oracle.duck_views(duckdb.connect(), SF)
    rc = 0
    for name in names:
        verdict, _ = oracle.check(spark, con, plans.get(name), SF, ndigits=17)
        print(f"{name}: {'OK' if verdict is None else 'DIFF ' + verdict}")
        rc |= verdict is not None
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
