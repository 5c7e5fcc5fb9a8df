"""Incremental Spark-vs-DuckDB sweep for the PERF evidence index.

Timing contract: a warm run then one timed run per side, the Spark plan
built and written to a noop sink, the DuckDB oracle SQL fetched in full.
Built for LONG unattended sweeps: results append to a JSONL file as they land
(crash-safe — a killed run keeps everything measured so far), names
already present in the JSONL are skipped on restart, and a per-query
exception is recorded instead of aborting the sweep.

Usage:
  SPARK_GRAFT_SF_DIR=testdata/sf1 python scripts/bvd_sweep.py OUT.jsonl NAME...
  python scripts/bvd_sweep.py --merge OUT.jsonl PERF_sf1_r8.json

--merge folds a JSONL into the {"sf": .., "queries": {...}} shape the
index harvester reads (error rows are dropped — they carry no timing).
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



def merge(jsonl: str, out: str) -> None:
    queries: dict[str, dict] = {}
    sf = None
    for line in open(jsonl):
        rec = json.loads(line)
        if rec.get("err") and "spark_sec" not in rec:
            continue  # no timing at all — nothing to index
        sf = rec["sf"]
        out_rec = {
            "spark_sec": rec["spark_sec"],
            "duckdb_sec": rec.get("duckdb_sec"),
            "ratio": rec.get("ratio"),
        }
        if rec.get("err"):
            # spark-only absolute with the comparator's failure recorded:
            # the index attaches it alongside a comparator-kill adjudication
            out_rec["comparator_err"] = rec["err"]
        queries[rec["name"]] = out_rec
    with open(out, "w") as f:
        json.dump({"sf": sf, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"merged {len(queries)} rows (sf={sf}) -> {out}")


def _duck_guarded(con, sql: str):
    """Run the oracle with an optional wall-clock cap (BVD_DUCK_TIMEOUT_S):
    a timer thread interrupts the connection so a recursive-CTE blowup at
    sf20 lands as this query's error row instead of stalling the sweep.
    The spark absolute measured just before is kept by --merge.

    The timer and the query race: the timer can fire after fetchall()
    returns but before cancel(), leaving a pending interrupt that would
    spuriously kill the NEXT oracle query on the shared connection (r8
    ADVICE). The callback therefore checks a done-flag under a lock
    before interrupting, and the finally block absorbs any interrupt
    that landed post-return; an interrupt that escapes the try is
    re-raised as TimeoutError only when the flag says OUR timer fired."""
    import threading

    cap = float(os.environ.get("BVD_DUCK_TIMEOUT_S", "0") or 0)
    if not cap:
        return con.execute(sql).fetchall()
    state = {"done": False, "fired": False}
    lock = threading.Lock()

    def _fire():
        with lock:
            if not state["done"]:
                state["fired"] = True
                con.interrupt()

    timer = threading.Timer(cap, _fire)
    t0 = time.time()
    timer.start()
    try:
        return con.execute(sql).fetchall()
    except Exception as e:  # noqa: BLE001 — classify before propagating
        with lock:
            state["done"] = True
        # r9 ADVICE: the timer can fire in the window between a GENUINE
        # query error being raised and this except block taking the lock,
        # which would mislabel the real error as a timeout. Classify as
        # timeout only when the wall clock actually reached the cap.
        if state["fired"] and time.time() - t0 >= cap:
            raise TimeoutError(
                f"oracle exceeded BVD_DUCK_TIMEOUT_S={cap}s (interrupted)"
            ) from e
        raise
    finally:
        with lock:
            state["done"] = True
        timer.cancel()
        if state["fired"]:
            # interrupt may have landed after fetchall() returned (or was
            # already consumed by the failing query) — absorb any pending
            # interrupt so it cannot poison the next query on this con
            try:
                con.execute("SELECT 1").fetchall()
            except Exception:  # noqa: BLE001 — the absorbed interrupt itself
                pass


def main() -> None:
    if sys.argv[1] == "--merge":
        merge(sys.argv[2], sys.argv[3])
        return
    out_path = sys.argv[1]
    names = sys.argv[2:]
    done = set()
    if os.path.exists(out_path):
        for line in open(out_path):
            done.add(json.loads(line)["name"])
    todo = [n for n in names if n not in done]
    print(f"{len(done)} already measured, {len(todo)} to go", flush=True)
    if not todo:
        return

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    spark = get_session(
        app_name="bvd-sweep",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    )
    con = duckdb.connect()
    # sf20 discipline: a recursive-CTE/spill blowup on the comparator
    # side must land as an error ROW, not fill the container disk (the
    # r7 pagerank oracle spilled >60 GB). Caps are env-overridable.
    tmp = os.environ.get("BVD_DUCK_TMP")
    if tmp:
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute(
            "SET max_temp_directory_size="
            f"'{os.environ.get('BVD_DUCK_TMP_MAX', '30GB')}'"
        )
    if os.environ.get("BVD_DUCK_MEM"):
        con.execute(f"SET memory_limit='{os.environ['BVD_DUCK_MEM']}'")
    oracle.duck_views(con, SF_DIR)
    registry = plans.all_queries()
    with open(out_path, "a") as f:
        for i, name in enumerate(todo):
            q = registry[name]
            rec: dict = {"name": name, "sf": sf}
            skip_oracle = name in {
                s for s in os.environ.get("BVD_SKIP_ORACLE", "").split(",") if s
            }
            try:
                q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                t0 = time.time()
                q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                rec["spark_sec"] = round(time.time() - t0, 3)
                if skip_oracle:
                    # comparator known-infeasible at this scale (e.g. the
                    # DuckDB list-typed kmeans CTEs OOM-kill the process
                    # at sf20, outside memory_limit's accounting): keep
                    # the spark absolute, record why the ratio is absent
                    rec["duckdb_sec"] = None
                    rec["ratio"] = None
                    rec["err"] = "comparator skipped: BVD_SKIP_ORACLE"
                elif q.oracle:
                    _duck_guarded(con, q.oracle)  # warm
                    t0 = time.time()
                    _duck_guarded(con, q.oracle)
                    rec["duckdb_sec"] = round(time.time() - t0, 3)
                    rec["ratio"] = round(rec["spark_sec"] / rec["duckdb_sec"], 2)
                else:
                    rec["duckdb_sec"] = None
                    rec["ratio"] = None
            except Exception as e:  # noqa: BLE001 — sweep must survive one bad row
                rec["err"] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            f.write(json.dumps(rec) + "\n")
            f.flush()
            print(f"[{i + 1}/{len(todo)}] {name}: {rec}", flush=True)


if __name__ == "__main__":
    main()
