"""Drive the engine exactly as the round driver does.

1. smoke: entry(spark) at sf0.001 → rows > 0, stable schema
2. correctness: each queries()[name] at sf0.01 vs oracle_sql()[name] in
   DuckDB (views pre-registered), judged by `oracle.compare` — the same
   contract tests/test_oracle.py asserts: sorted column names, row
   count, dtype-KIND parity, no unhashable cells, order-insensitive
   values at 6 dp, all from ONE execution per engine.
3. codegen guard (r4 verdict item 2): the JVM's stderr is captured at
   the file-descriptor level for the whole run; any
   `CodeGenerator ... Failed to compile` / `Code grows beyond 64 KB`
   line fails the sweep, so a query that silently drops to interpreted
   execution is caught structurally, not by a perf regression later.

Usage: python scripts/driver_check.py [name ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

import duckdb

sys.path.insert(0, ".")

# override to replay the oracle sweep at another scale (e.g. the
# regenerated testdata/sf1) — correctness should hold at every sf
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
JVM_LOG = os.environ.get("SPARK_GRAFT_JVM_LOG", "/tmp/spark_graft_jvm_stderr.log")

_CODEGEN_FAIL = re.compile(r"Failed to compile the generated|grows beyond 64 KB")


def main() -> int:
    only = set(sys.argv[1:])

    # Redirect OS-level stderr to a file BEFORE the JVM launches: py4j's
    # child JVM inherits fd 2 at fork, so every log4j line (including
    # `ERROR CodeGenerator: Failed to compile`) lands in JVM_LOG while
    # this script's own prints stay on stdout.
    jvm_log = open(JVM_LOG, "w")  # noqa: SIM115 - lives for the process
    saved_err = os.dup(2)
    os.dup2(jvm_log.fileno(), 2)
    try:
        import __spark_entry__ as entrymod
        from mrc_spark_jobs_pubmed_spark import oracle
        from mrc_spark_jobs_pubmed_spark.plans import Query
        from mrc_spark_jobs_pubmed_spark.session import get_session

        spark = get_session(app_name="driver-check", shuffle_partitions=8)
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)

    t0 = time.time()
    res = entrymod.entry(spark)
    rows = res.collect()
    print(f"SMOKE entry(): {len(rows)} rows, schema={res.columns} ({time.time()-t0:.1f}s)")
    assert len(rows) > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    extra = set(oracles) - set(qs)
    assert not extra, f"oracle_sql keys not in queries: {extra}"

    con = oracle.duck_views(duckdb.connect(), SF_ORACLE)
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            verdict, _ = oracle.check(spark, con, Query(name, fn, oracles.get(name)), SF_ORACLE)
        except Exception as exc:  # noqa: BLE001
            print(f"  ERROR {name}: {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        status = "ROWS-ONLY" if name not in oracles else "FAIL" if verdict else "PASS"
        print(f"  {status} {name}: {verdict or 'ok'} ({time.time()-t0:.1f}s)")
        n_fail += bool(verdict)
        n_pass += not verdict

    # codegen guard: scan everything the JVM wrote to stderr
    jvm_log.flush()
    with open(JVM_LOG, errors="replace") as f:
        hits = [ln.strip()[:200] for ln in f if _CODEGEN_FAIL.search(ln)]
    if hits:
        print(f"CODEGEN-GUARD: {len(hits)} compile failure(s) — stage(s) ran interpreted:")
        for h in hits[:10]:
            print(f"  {h}")
        n_fail += 1
    else:
        print("CODEGEN-GUARD: clean (no generated-code compile failures)")

    print(f"{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
