"""Ritual-bypass gate (VERDICT r6 item 2).

Round 6 shipped two queries (`emb_kmeanspp_init`,
`rel_interval_coalesce_sharded`) registered AFTER the round-close
rituals ran, so they appeared in no committed sweep/EXPLAIN/COVERAGE
artifact: a point-in-time snapshot with no structural tie to the
registry.

This gate makes that impossible: pytest fails until the rituals are
re-run whenever the registry grows past the newest committed
artifacts. Three checks:

1. COVERAGE.md's header count == registry count.
2. The newest ORACLE_SWEEP_sf001_r*.txt names a PASS line for every
   registered query.
3. The newest EXPLAIN_r*.txt names every registered query.

"Newest" = highest round number parsed from the filename (mtime is not
trustworthy across clones). A query registered after round close now
breaks the suite until `scripts/coverage_report.py`,
`scripts/driver_check.py`, and `scripts/explain_audit.py` are re-run
and their artifacts committed.
"""

from __future__ import annotations

import glob
import os
import re

from mrc_spark_jobs_pubmed_spark import plans

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ROUND = re.compile(r"_r(\d+)")


def _newest(pattern: str) -> str:
    """Highest-round artifact matching the glob (ties: lexicographic)."""
    paths = glob.glob(os.path.join(REPO, pattern))
    assert paths, f"no committed artifact matches {pattern}"
    return max(paths, key=lambda p: (int(_ROUND.search(os.path.basename(p)).group(1)), p))


def test_coverage_md_counts_registry():
    names = set(plans.all_queries())
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"^(\d+) queries;", text, re.M)
    assert m, "COVERAGE.md header count line missing"
    assert int(m.group(1)) == len(names), (
        f"COVERAGE.md says {m.group(1)} queries but the registry has "
        f"{len(names)} — rerun scripts/coverage_report.py > COVERAGE.md"
    )
    # every registered name must have its table row, not just the count
    missing = {n for n in names if f"`{n}`" not in text}
    assert not missing, f"COVERAGE.md missing rows for: {sorted(missing)}"


def test_newest_oracle_sweep_covers_registry():
    names = set(plans.all_queries())
    path = _newest("ORACLE_SWEEP_sf001_r*.txt")
    text = open(path).read()
    passed = set(re.findall(r"^\s*PASS (\w+):", text, re.M))
    missing = names - passed
    assert not missing, (
        f"{os.path.basename(path)} lacks a PASS line for {sorted(missing)} — "
        "rerun scripts/driver_check.py and commit the new sweep artifact"
    )


def test_newest_explain_audit_covers_registry():
    names = set(plans.all_queries())
    path = _newest("EXPLAIN_r*.txt")
    text = open(path).read()
    audited = set(re.findall(r"^(\w+)\s+exchanges=", text, re.M))
    missing = names - audited
    assert not missing, (
        f"{os.path.basename(path)} lacks an audit row for {sorted(missing)} — "
        "rerun scripts/explain_audit.py and commit the new EXPLAIN artifact"
    )
