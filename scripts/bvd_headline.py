"""Pinned-methodology headline ratio vs DuckDB (VERDICT r6 item 5).

One process, one session, both sides median-of-5 warm:
- Spark: bench.py's exact timing discipline (noop sink, one warm run,
  median of 5) over bench.py's HEADLINE list at bench.py's SF_DIR.
- DuckDB: the same queries' oracle SQL on the same parquet views,
  fetchall, one warm run, median of 5.

Reports per-query medians + ratio, and the two aggregates the round
ledger tracks: full-headline and the frozen shared-25 subtotal. This
is the single methodology round-over-round ratios should quote — the
r5/r6 spread (1.59x vs 1.73x on identical code) came from mixing
run conditions across sessions.

Usage: python scripts/bvd_headline.py  > PERF_bvd_sf01_r{N}.json
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import duckdb  # noqa: E402

from bench import HEADLINE, SF_DIR, SHARED_N  # noqa: E402
from mrc_spark_jobs_pubmed_spark import oracle, plans  # noqa: E402
from mrc_spark_jobs_pubmed_spark.session import get_session  # noqa: E402

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))


def main() -> None:
    spark = get_session(
        app_name="bvd-headline",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    )
    con = oracle.duck_views(duckdb.connect(), SF_DIR)
    registry = plans.all_queries()

    out: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        q = registry[name]
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        ss = []
        for _ in range(RUNS):
            t0 = time.time()
            q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            ss.append(time.time() - t0)
        spark_sec = statistics.median(ss)

        con.execute(q.oracle).fetchall()  # warm
        ds = []
        for _ in range(RUNS):
            t0 = time.time()
            con.execute(q.oracle).fetchall()
            ds.append(time.time() - t0)
        duck_sec = statistics.median(ds)
        out[name] = {
            "spark_sec": round(spark_sec, 3),
            "duckdb_sec": round(duck_sec, 3),
            "ratio": round(spark_sec / duck_sec, 2),
        }

    shared = list(HEADLINE[:SHARED_N])
    sp_full = sum(v["spark_sec"] for v in out.values())
    du_full = sum(v["duckdb_sec"] for v in out.values())
    sp_sh = sum(out[n]["spark_sec"] for n in shared)
    du_sh = sum(out[n]["duckdb_sec"] for n in shared)
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    print(
        json.dumps(
            {
                "sf": float(m.group(1)) if m else None,
                "runs_per_side": RUNS,
                "n_queries": len(out),
                "spark_total_sec": round(sp_full, 2),
                "duckdb_total_sec": round(du_full, 2),
                "ratio_full": round(sp_full / du_full, 2),
                "shared_n": SHARED_N,
                "spark_shared_sec": round(sp_sh, 2),
                "duckdb_shared_sec": round(du_sh, 2),
                "ratio_shared": round(sp_sh / du_sh, 2),
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
