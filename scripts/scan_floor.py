"""Scan-floor receipts for the single-scan TPC-H class (VERDICT r7
item 3): measure the BARE COLUMN SCAN each query is built on — same
columns, a touch-every-value aggregate, no joins/windows — against the
FULL query, on BOTH engines, at the same sf.

This converts the standing "the gap is parquet-scan + row-processing
constant factor, not the plan" adjudication for rel_q1/q3/q5 and
sim_cosine_topk into a committed receipt: if Spark's bare scan of the
query's own columns already costs more than DuckDB's entire query, no
plan change can close the ratio on one machine — and the plans (all-
broadcast stars, pushed filters, pruned columns) are already the
1000-executor shape.

Scan probes by dtype (identical touch semantics on both engines):
string -> sum(length(c)); numeric -> sum(c); timestamp -> max(c);
array<float> -> sum of an elementwise fold (every element decoded and
added once — the minimal op that cannot be answered from metadata).

Usage: SPARK_GRAFT_SF_DIR=testdata/sf20 python scripts/scan_floor.py
Writes SCAN_FLOOR_RECEIPTS.json at the repo root (embedded into
PERF_INDEX.json by scripts/perf_index.py — regenerate it after).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import SF_DIR  # noqa: E402
from mrc_spark_jobs_pubmed_spark import oracle, plans  # noqa: E402
from mrc_spark_jobs_pubmed_spark.session import get_session  # noqa: E402

# the dominant tables + exact column sets each query reads; broadcast-
# side micro-tables (supplier/nation/region at <1% of bytes) excluded
SPECS: dict[str, dict[str, list[str]]] = {
    "rel_q1_pricing_summary": {
        "lineitem": [
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        ],
    },
    "rel_q3_shipping_priority": {
        "lineitem": ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
        "orders": ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"],
        "customer": ["c_custkey", "c_mktsegment"],
    },
    "rel_q5_region_revenue": {
        "lineitem": ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
        "orders": ["o_orderkey", "o_custkey", "o_orderdate"],
        "customer": ["c_custkey", "c_nationkey"],
    },
    "sim_cosine_topk": {
        "embeddings": ["vec_id", "embedding"],
    },
    "sim_range_search": {
        "embeddings": ["vec_id", "embedding"],
    },
    # --- r9 decade-check additions: the surfaced >2x rows whose plans
    # audited shuffle-minimal; same receipt semantics as the r8 set
    "emb_matryoshka_recall": {
        "embeddings": ["vec_id", "embedding"],
    },
    "sim_mmr_rerank": {
        "embeddings": ["vec_id", "embedding"],
    },
    "rel_q4_order_priority": {
        "lineitem": ["l_orderkey", "l_returnflag"],
        "orders": ["o_orderkey", "o_orderpriority", "o_orderdate"],
    },
    "rel_q9_product_profit": {
        "lineitem": [
            "l_partkey",
            "l_orderkey",
            "l_suppkey",
            "l_extendedprice",
            "l_discount",
            "l_quantity",
        ],
        "orders": ["o_orderkey", "o_orderdate"],
        "part": ["p_partkey", "p_name", "p_retailprice"],
    },
    "rel_queue_wait_lindley": {
        "events": ["event_type", "ts", "event_id", "value"],
    },
    "rel_scd2_point_in_time": {
        "events": ["user_id", "event_type", "ts", "event_id", "value"],
    },
    "rel_active_users_rolling": {
        "events": ["user_id", "ts"],
    },
    "rel_data_quality": {
        "documents": ["doc_id", "text", "n_chars"],
        "events": ["ts", "value"],
        "embeddings": ["embedding"],
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
    },
    "rel_multitouch_attribution": {
        "events": ["user_id", "ts", "event_id", "event_type", "value", "props"],
    },
    # --- r10 shape-audit additions (sublinear-decade rows promoted to
    # receipted adjudications; same semantics as the r8/r9 sets)
    "rel_json_props": {
        "events": ["event_type", "props"],
    },
    "sim_batch_topk": {
        "embeddings": ["vec_id", "embedding"],
    },
    "sim_rrf_fusion": {
        "embeddings": ["vec_id", "embedding"],
    },
    "rel_q14_promo_revenue": {
        "lineitem": ["l_partkey", "l_extendedprice", "l_discount", "l_shipdate"],
        "part": ["p_partkey", "p_type"],
    },
    "rel_q16_supplier_variety": {
        "lineitem": ["l_partkey", "l_suppkey"],
        "part": ["p_partkey", "p_brand", "p_size"],
    },
    "rel_q10_returned_items": {
        "lineitem": [
            "l_orderkey",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
        ],
        "orders": ["o_orderkey", "o_custkey", "o_orderdate"],
        "customer": ["c_custkey", "c_name"],
    },
    "rel_salted_agg": {
        "lineitem": ["l_returnflag", "l_linestatus", "l_orderkey"],
    },
}


def _probe_exprs(dtype: str, col: str) -> tuple[str, str]:
    """(spark_sql_expr, duckdb_sql_expr) touching every value of col."""
    if dtype.startswith("array"):
        return (
            f"sum(aggregate({col}, CAST(0.0 AS DOUBLE), (a, x) -> a + x))",
            f"sum(list_sum({col}))",
        )
    if dtype in ("string",):
        return (f"sum(length({col}))", f"sum(length({col}))")
    if dtype in ("timestamp", "date", "timestamp_ntz"):
        return (f"max({col})", f"max({col})")
    return (f"sum({col})", f"sum({col})")


def main() -> None:
    spark = get_session(
        app_name="scan-floor",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    )
    con = oracle.duck_views(duckdb.connect(), SF_DIR)

    registry = plans.all_queries()
    out: dict[str, dict] = {}
    for name, spec in SPECS.items():
        rec: dict = {"tables": spec}
        # --- bare scans, summed over the query's tables ---
        s_total = d_total = 0.0
        for table, cols in spec.items():
            df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
            dtypes = dict(df.dtypes)
            sparks, ducks = [], []
            for c in cols:
                se, de = _probe_exprs(dtypes[c], c)
                sparks.append(se)
                ducks.append(de)
            sdf = df.selectExpr(*sparks)
            sdf.collect()  # warm
            t0 = time.time()
            sdf.collect()
            s_total += time.time() - t0
            dsql = f"SELECT {', '.join(ducks)} FROM {table}"
            con.execute(dsql).fetchall()  # warm
            t0 = time.time()
            con.execute(dsql).fetchall()
            d_total += time.time() - t0
        rec["spark_scan_sec"] = round(s_total, 3)
        rec["duckdb_scan_sec"] = round(d_total, 3)

        # --- full queries, same timing contract as bvd_sweep ---
        q = registry[name]
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t0 = time.time()
        q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        rec["spark_query_sec"] = round(time.time() - t0, 3)
        con.execute(q.oracle).fetchall()
        t0 = time.time()
        con.execute(q.oracle).fetchall()
        rec["duckdb_query_sec"] = round(time.time() - t0, 3)

        rec["spark_floor_frac"] = round(
            rec["spark_scan_sec"] / rec["spark_query_sec"], 3
        )
        rec["spark_scan_vs_duckdb_query"] = round(
            rec["spark_scan_sec"] / rec["duckdb_query_sec"], 2
        )
        rec["scan_floor_exceeds_comparator_query"] = (
            rec["spark_scan_sec"] > rec["duckdb_query_sec"]
        )
        out[name] = rec
        print(f"{name}: {rec}", flush=True)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    artifact = {"sf": float(m.group(1)) if m else None, "receipts": out}
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    with open(os.path.join(root, "SCAN_FLOOR_RECEIPTS.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote SCAN_FLOOR_RECEIPTS.json")


if __name__ == "__main__":
    main()
