"""Physical-plan fingerprints for the perf evidence index (r9).

VERDICT r8 "What's missing" item 2: perf datapoints did not invalidate
on plan change — the gate checked index-vs-artifacts, not
artifacts-vs-current-code, so replanning a query (or a shared helper
that changes its plan) silently kept the old measured number. The fix
is structural: every query's physical plan gets a normalized
fingerprint, the fingerprint each datapoint was measured under is
PINNED (PLAN_FP_PINS.json, maintained by scripts/plan_fp_snapshot.py),
and a pytest gate recomputes current fingerprints and fails on any
divergence — a replan now forces a re-measure instead of inheriting
stale evidence.

Normalization strips run-to-run noise so the fingerprint is stable
across sessions but sensitive to plan-shape changes: expression ids
(#123 grow monotonically per session), exchange/plan ids, file-index
locations (absolute paths + partition counts), RDD scan ids (plans
that localCheckpoint embed per-session RDD numbers), and whitespace.
Node structure, operator choice, pushed filters, read schemas, and
partitioning expressions all survive — exactly the things a replan
changes.

Literal sensitivity (r10, ADVICE r9): `PushedFilters:` lines never
render #id attribute refs — columns appear by source name — so every
`#` there is literal text (EqualTo(p_brand,Brand#12)). Those lines are
exempt from the attr-ref deletion, restoring full sensitivity to
scan-level constant changes (dates, brands, thresholds). One
exception inside pushed lines: `ScalarSubquery#<exprId>` (a pushed
predicate comparing against a scalar subquery) carries a session-
order-dependent expression id — that id alone is masked to
`ScalarSubquery#N` (r10: the verbatim form made rel_subqueries'
fingerprint order-dependent). KNOWN REDUCED SENSITIVITY: a
`word#digits` literal in a plan-BODY condition (a post-join filter
constant that happens to contain '#') is syntactically
indistinguishable from an attribute ref and still normalizes away; a
constant-only replan of that narrow class fingerprints identically.
Plain numeric/string body literals survive (the \\d+L rule keeps the
digits, only stripping the resolution-state-dependent L suffix).

Lambda variables render as `lambda x_N#id`, and only the `#id` is
stripped: N comes from a JVM-wide counter that every higher-order
function's lambda advances (`F.transform`, `F.filter`, and the text
functions' SQL `transform`, which name their variable from the same
counter). A fingerprint therefore depends on the lambdas built before
it: adding or removing a lambda in one query shifts the pins of every
lambda-using query built after it (`fingerprint_registry` builds in
name order).
"""

from __future__ import annotations

import hashlib
import re

# order matters: line-level kills run before whitespace collapse
_LINE_KILL = re.compile(
    r"^\s*(Location:|CachedRDDName:|Checkpoint|\+\- Scan ExistingRDD).*$",
    re.M,
)
_SUBS = (
    # attribute markers render two ways for the SAME expression
    # depending on catalog-resolution state ("src#123L" vs
    # "spark_catalog.default.t.src", "10000000" vs "10000000L") and
    # the mix varies run-to-run inside Expand argument lists — delete
    # the #id+type marker and the long-literal suffix entirely so both
    # renderings normalize to the same text
    (re.compile(r"#\d+[A-Za-z]*"), ""),
    (re.compile(r"\b(\d+)L\b"), r"\1"),
    (re.compile(r"\[id=\d+\]"), "[id=]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # RDD descriptor call-site varies with the JIT/invocation path
    # ("at localCheckpoint at NativeMethodAccessorImpl.java:0" vs
    # "at <unknown>:0") — strip the whole call-site tail
    (re.compile(r"RDD\[\] at \S+ at [^,\n]+"), "RDD[] at"),
    (re.compile(r"Scan ExistingRDD\[[^\]]*\]"), "Scan ExistingRDD[]"),
    (re.compile(r"ExistingRDD\b[^\n]*"), "ExistingRDD"),
    (re.compile(r"LogicalRDD\b[^\n]*"), "LogicalRDD"),
    (re.compile(r"InMemoryFileIndex\([^)]*\)\S*"), "InMemoryFileIndex"),
    (re.compile(r"file:/\S+"), "file:"),
    # attribute qualifiers leak per-session state: whether a shared
    # catalog table (e.g. the bucketed edge table, whose name carries
    # a content-hash suffix) was created or merely reused earlier in
    # the session changes expression rendering from "src#L" to
    # "spark_catalog.default.trade_edges_<hash>.src" — strip the
    # qualifier and the hash suffix so both render identically
    (re.compile(r"spark_catalog\.\w+\.(\w+?)_[0-9a-f]{8,}\."), ""),
    (re.compile(r"spark_catalog\.\w+\."), ""),
    (re.compile(r"\b(\w+?)_[0-9a-f]{10,}\b"), r"\1_"),
    (re.compile(r"\s+"), " "),
)


_PUSHED_LINE = re.compile(r"^\s*PushedFilters:")
# the only #id that renders inside a PushedFilters line: a pushed
# scalar-subquery comparison ("GreaterThan(c_acctbal,ScalarSubquery#17)")
# whose exprId depends on how many expressions the session allocated
# before this plan — mask the id, keep the token
_PUSHED_SUBQ = re.compile(r"\b([Ss]calar-?[Ss]ubquery)#\d+")
_WS = re.compile(r"\s+")


def normalize_plan(plan: str) -> str:
    plan = _LINE_KILL.sub("", plan)
    out: list[str] = []
    for line in plan.splitlines():
        if _PUSHED_LINE.match(line):
            # no attribute refs render here — keep literals verbatim so
            # a pushed-constant-only replan re-fingerprints (ADVICE r9);
            # mask only the session-dependent scalar-subquery exprId
            line = _PUSHED_SUBQ.sub(r"\1#N", line)
            out.append(_WS.sub(" ", line).strip())
        else:
            for rx, rep in _SUBS:
                line = rx.sub(rep, line)
            out.append(line.strip())
    return _WS.sub(" ", " ".join(out)).strip()


def plan_fingerprint(df) -> str:
    """16-hex-char fingerprint of a DataFrame's formatted physical plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return hashlib.sha256(normalize_plan(plan).encode()).hexdigest()[:16]


def fingerprint_registry(spark, sf_dir: str) -> dict[str, str]:
    """Fingerprint every registered query's plan against sf_dir.

    Uses the same fixed sf_dir on both the snapshot and the gate side —
    fingerprints are only comparable at one scale (AQE thresholds and
    file counts differ across scales).
    """
    from mrc_spark_jobs_pubmed_spark import plans

    out: dict[str, str] = {}
    for name, q in sorted(plans.all_queries().items()):
        out[name] = plan_fingerprint(q.fn(spark, sf_dir))
    return out
