"""The r3 driver-only hash mismatches were invisible to the local
harness because it pins session configs (UTC, shuffle partitions, AQE)
that an external harness may not. Regression: the formerly-red queries
must value-match DuckDB EXACTLY (17 significant digits, not the sweep's
6dp) under a bone-stock SparkSession in a FRESH JVM — no UTC pin,
default 200 shuffle partitions, default ANSI.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FORMER_RED = [
    "text_bpe_merges",
    "rel_skew_salted_join",
    "graph_pagerank",
    "stream_chained_rollup",
    # the unrounded-double contract queries: their oracles must CAST to
    # DOUBLE (a bare `* 1.0` types as DECIMAL in DuckDB, whose exact
    # product + single sqrt rounding diverges from the double path by
    # 1 ulp)
    "rel_ts_correlation",
    "emb_label_centroid_drift",
]


def _bone_stock_check() -> int:
    """Child-process body: check FORMER_RED under exactly the session an
    external harness would build; prints one line per query."""
    import duckdb
    from pyspark.sql import SparkSession

    from mrc_spark_jobs_pubmed_spark import oracle, plans
    from tests.conftest import SF_ORACLE

    spark = (
        SparkSession.builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .appName("bone-stock")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = oracle.duck_views(duckdb.connect(), SF_ORACLE)
    rc = 0
    for name in FORMER_RED:
        verdict, _ = oracle.check(spark, con, plans.get(name), SF_ORACLE, ndigits=17)
        print(f"{name}: {'OK' if verdict is None else 'DIFF ' + verdict}")
        rc |= verdict is not None
    return rc


def test_former_red_queries_exact_under_bone_stock_session():
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "from tests.test_default_session_configs import _bone_stock_check;"
            " raise SystemExit(_bone_stock_check())",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=540,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    assert r.returncode == 0, (r.stdout[-3000:], r.stderr[-1500:])
    assert r.stdout.count(": OK") == len(FORMER_RED), r.stdout[-3000:]
