"""Maintain PLAN_FP_PINS.json — the measured-under plan fingerprints.

VERDICT r8 item: a replan must force a re-measure. Each registered
query that carries a perf datapoint (PERF_INDEX.json) gets a PIN:
the plan fingerprint its current datapoint is certified for, plus the
datapoint's identity (source file + spark_sec). The pytest gate
(tests/test_plan_fp_gate.py) recomputes live fingerprints and fails
when a pinned fingerprint no longer matches the current plan.

Pin update policy (the enforcement mechanism — read before editing):
a pin is (re)written ONLY when the query's datapoint identity changed,
i.e. a NEW measurement landed; re-running this script after a replan
does NOT silently bless the new plan — it keeps the old pin and the
gate stays red until the query is re-measured (scripts/bvd_sweep.py →
new PERF_*.json → scripts/perf_index.py → this script).

Bootstrap (r9): queries with a datapoint but no pin get pinned to the
CURRENT plan — the baseline assumption, stated in PERF.md r9, that
standing datapoints were measured under standing plans.

Usage: python scripts/plan_fp_snapshot.py [--check|--rebase]
Writes PLAN_FP_PINS.json; prints any stale (replanned-not-remeasured)
rows and exits 1 if there are any, 0 otherwise. --check compares
without writing (the pytest-gate mode: tests/test_plan_fp_gate.py runs
it in a SUBPROCESS so fingerprints come from a pristine session — a
17-minute test suite leaves session state behind that perturbs plans,
so in-process fingerprinting is order-dependent).

--rebase: NORMALIZER-CHANGE mode only. When planfp.normalize_plan
itself changes, every fingerprint changes without any plan changing,
so the normal policy would read 303 false "stale" rows. --rebase
recomputes all pins under the new normalizer while KEEPING datapoint
identities. It is only honest in a commit that touches the normalizer
and NO query plan — run it in that same commit and say so in the
commit message; using it to bless an actual replan defeats the gate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from mrc_spark_jobs_pubmed_spark.planfp import fingerprint_registry  # noqa: E402
from mrc_spark_jobs_pubmed_spark.session import get_session  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
FP_SF_DIR = "/root/testdata/sf0.01"  # fixed scale: fps compare at one sf only
PINS_PATH = os.path.join(ROOT, "PLAN_FP_PINS.json")


def _dp_identity(row: dict) -> dict | None:
    dp = row.get("datapoint")
    if not dp:
        return None
    return {"source": dp.get("source"), "spark_sec": dp.get("spark_sec")}


def main() -> int:
    check_only = "--check" in sys.argv[1:]
    idx = json.load(open(os.path.join(ROOT, "PERF_INDEX.json")))
    doc: dict = json.load(open(PINS_PATH)) if os.path.exists(PINS_PATH) else {}
    pins: dict[str, dict] = doc.get("pins", {})
    # Plans that read the session's parallelism (range() renders
    # splits=Some(defaultParallelism)) fingerprint differently per core
    # count, so every run uses the local[N] the pins were taken under;
    # a fresh pins file records the core count of the run that wrote it.
    cpus = int(doc.get("cpus") or os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = get_session(
        app_name="plan-fp-snapshot", master=f"local[{cpus}]", shuffle_partitions=8
    )
    current = fingerprint_registry(spark, FP_SF_DIR)

    if check_only:
        rc = 0
        missing = []
        stale = []
        for name, row in sorted(idx["rows"].items()):
            ident = _dp_identity(row)
            if ident is None:
                continue
            pin = pins.get(name)
            if pin is None or pin.get("datapoint") != ident:
                missing.append(name)
            elif pin["fp"] != current.get(name):
                stale.append(name)
        dead = sorted(set(pins) - set(current))
        if missing:
            print(f"UNPINNED/DRIFTED datapoints: {missing}")
            rc = 1
        if stale:
            print(f"STALE (replanned since measured): {stale}")
            rc = 1
        if dead:
            print(f"PINS FOR UNREGISTERED QUERIES: {dead}")
            rc = 1
        print("plan-fp check:", "FAIL" if rc else "OK")
        return rc

    rebase = "--rebase" in sys.argv[1:]
    out: dict[str, dict] = {}
    pinned_new, kept, stale = [], [], []
    for name, row in sorted(idx["rows"].items()):
        ident = _dp_identity(row)
        if ident is None:
            continue  # no datapoint to protect (pure adjudication)
        old = pins.get(name)
        if rebase or old is None or old.get("datapoint") != ident:
            out[name] = {"fp": current[name], "datapoint": ident}
            pinned_new.append(name)
        else:
            out[name] = old
            kept.append(name)
            if old["fp"] != current[name]:
                stale.append(name)

    with open(PINS_PATH, "w") as f:
        json.dump(
            {
                "sf_dir": FP_SF_DIR,
                "cpus": cpus,
                "policy": "pin updates ONLY on datapoint change; a replan "
                "keeps the old pin until the query is re-measured",
                "pins": out,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(
        f"pins: {len(out)} total ({len(pinned_new)} new/re-measured, "
        f"{len(kept)} kept)"
    )
    if stale:
        print(
            f"STALE EVIDENCE — {len(stale)} queries replanned since their "
            f"datapoint was measured: {stale}\n"
            "re-measure them (scripts/bvd_sweep.py) and rerun "
            "scripts/perf_index.py, then this script."
        )
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
