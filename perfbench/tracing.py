"""Benchmark-side tracing: spans around calls into the engine, and counts
read from Spark's own bookkeeping.

Nothing here changes the engine. Spans are kept in memory and written as
JSONL when the run ends. The counts come from:

* a py4j call counter wrapped around the gateway client's `send_command`;
* the status store (`jobsList` / `stageList`, populated with the UI off);
* the SQL status store's per-operator metrics (Python-worker nodes);
* `QueryPlanningTracker` phases of a built DataFrame;
* `StreamingQueryProgress.durationMs` and state-operator progress.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans: name, start, end, parent span and run id, plus attributes.
    A disabled tracer still runs the wrapped code and costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts driver→JVM round trips by wrapping the gateway client."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._orig = self.client.send_command

        def counted(*a, **kw):
            self.calls += 1
            return self._orig(*a, **kw)

        self.client.send_command = counted

    def close(self) -> None:
        self.client.send_command = self._orig


def job_ids(sc) -> set[int]:
    """Ids of the jobs the status tracker still holds (no job group)."""
    return set(sc.statusTracker().getJobIdsForGroup())


def job_submissions(sc, first_job: int) -> dict[int, float]:
    """{job id: submission time (epoch s)} for jobs from `first_job` on,
    including jobs started by streaming queries under their own group."""
    out = {}
    for j in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        jid = j.jobId()
        if jid >= first_job and j.submissionTime().isDefined():
            out[jid] = j.submissionTime().get().getTime() / 1e3
    return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def stage_totals(sc, job_id_set: set[int]) -> dict[str, float]:
    """Task totals over the stages of the given jobs, from the status
    store (task run time, GC, shuffle write, spill, task counts).
    `missing_stages` counts stages the store no longer retains."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stage_ids: set[int] = set()
    for j in _seq(store.jobsList(None)):
        if j.jobId() in job_id_set:
            stage_ids.update(_seq(j.stageIds()))
    stages = _seq(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList()))
    out = defaultdict(float)
    seen = set()
    for s in stages:
        sid = s.stageId()
        if sid not in stage_ids:
            continue
        seen.add(sid)
        if s.numCompleteTasks() == 0:
            continue  # skipped stage: its output was reused
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["failed_tasks"] += s.numFailedTasks()
        out["task_s"] += s.executorRunTime() / 1e3
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    out["missing_stages"] = len(stage_ids - seen)
    return dict(out)


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}


def _metric_value(text: str) -> float:
    """First number of a formatted SQL metric ('1,234', '1.5 MiB', or the
    'total (min, med, max ...)\\n1.5 MiB (...)' form)."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "", 1)


def python_worker_totals(spark, min_execution_id: int) -> dict[str, float]:
    """Rows out and bytes to/from Python workers, summed over every SQL
    execution from `min_execution_id` on, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = defaultdict(float)
    names = {"number of output rows": "rows_out",
             "data sent to Python workers": "mb_sent",
             "data returned from Python workers": "mb_recv"}
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid < min_execution_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = _seq(node.metrics())
            if not any(m.name() == "data sent to Python workers" for m in metrics):
                continue
            for m in metrics:
                key = names.get(m.name())
                if key and values.contains(m.accumulatorId()):
                    v = _metric_value(values.apply(m.accumulatorId()))
                    out[key] += v / 2**20 if key.startswith("mb_") else v
    return dict(out)


def next_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids) + 1 if ids else 0


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds from the DataFrame's
    QueryPlanningTracker. Forces the DataFrame's own optimized and
    physical plan, so call it outside timed regions."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = phases.apply(name).durationMs() / 1e3
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


# Engine functions the pipeline calls through module attributes, with the
# layer each belongs to: build (DataFrame construction) or exec (actions).
PIPELINE_CALLS = (
    ("ingest", "build_work_table", "build", "pipeline.work_table"),
    ("ingest", "expand_pages", "build", "ingest.expand_pages"),
    ("ingest", "fetch_pages", "build", "ingest.fetch_pages"),
    ("parse", "parse_articles", "build", "parse.parse_articles"),
    ("keywords", "keywords_v1", "build", "keywords.keywords_v1"),
    ("keywords", "keywords_v2", "build", "keywords.keywords_v2"),
    ("sinks", "idempotent_write", "exec", None),
    ("sinks", "write_partitioned", "exec", None),
)


class Layers:
    """Per-layer instrumentation of one benchmark run.

    The runner opens a span per operation and workloads mark build and
    exec phases inside it. When tracing is on each phase becomes a child
    span carrying its py4j round trips and the Spark jobs it started, and
    `end_pass` folds a pass's spans and Spark counts into one record.
    When tracing is off every hook is a pass-through."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = Tracer(run_id, enabled=False)
        self.py4j: Py4jCounter | None = None
        self._depth = 0
        self._pass: dict = {}

    @property
    def enabled(self) -> bool:
        return self.tracer.enabled

    def set_enabled(self, on: bool) -> None:
        self.tracer.enabled = on
        if on and self.py4j is None:
            self.py4j = Py4jCounter(self.spark)
        elif not on and self.py4j is not None:
            self.py4j.close()
            self.py4j = None

    @contextmanager
    def phase(self, kind: str, name: str):
        """A build or exec phase. Nested phases fold into the outer one.
        Spark jobs are attributed to phases by submission time at the end
        of the pass, so a phase costs no JVM calls beyond its own."""
        if not self.enabled or self._depth:
            self._depth += 1
            try:
                yield {}
            finally:
                self._depth -= 1
            return
        calls0 = self.py4j.calls
        self._depth += 1
        try:
            with self.tracer.span(name, kind=kind, wall_start=time.time()) as rec:
                yield rec
        finally:
            self._depth -= 1
            rec["wall_end"] = time.time()
            rec["py4j"] = self.py4j.calls - calls0

    def catalyst(self, *dfs) -> None:
        if not self.enabled:
            return
        for df in dfs:
            for k, v in catalyst_phases(df).items():
                self._pass["counts"][f"catalyst.{k}_s"] += v

    def stream_progress(self, progress: list[dict]) -> None:
        """Fold one streaming query's progress into the pass record."""
        if not self.enabled:
            return
        c = self._pass["counts"]
        keys = {"addBatch": "add_batch_s", "walCommit": "wal_commit_s",
                "commitOffsets": "commit_s", "commitBatch": "commit_s",
                "queryPlanning": "query_planning_s", "latestOffset": "latest_offset_s"}
        for p in progress:
            d = p.get("durationMs", {})
            for k, name in keys.items():
                c[f"streaming.{name}"] += d.get(k, 0) / 1e3
            for s in p.get("stateOperators", []):
                c["streaming.rows_dropped_late"] += s.get("numRowsDroppedByWatermark", 0)
            if p.get("numInputRows", 0) > 0:
                c["streaming.batches"] += 1
                self._pass["batch_s"].append(d.get("triggerExecution", 0) / 1e3)
        if progress:
            for s in progress[-1].get("stateOperators", []):
                c["streaming.state_rows"] += s.get("numRowsTotal", 0)
                c["streaming.state_mb"] += s.get("memoryUsedBytes", 0) / 2**20

    @contextmanager
    def pipeline(self, kind: str):
        """Wrap the pipeline modules' functions in phases for one run."""
        if not self.enabled:
            yield
            return
        from mrc_spark_jobs_pubmed_spark.pipeline import ingest, keywords, parse, sinks

        mods = {"ingest": ingest, "parse": parse, "keywords": keywords, "sinks": sinks}
        undo = []
        for mod, fn, layer, name in PIPELINE_CALLS:
            orig = getattr(mods[mod], fn)
            if fn == "idempotent_write":
                name = "sinks.articles_write" if kind == "fresh" else "sinks.resume"

            def traced(*a, _orig=orig, _layer=layer, _name=name, **kw):
                span = _name or f"sinks.{os.path.basename(str(a[1]))}_write"
                with self.phase(_layer, span):
                    return _orig(*a, **kw)

            setattr(mods[mod], fn, traced)
            undo.append((mods[mod], fn, orig))
        try:
            yield
        finally:
            for m, fn, orig in undo:
                setattr(m, fn, orig)

    def begin_pass(self) -> None:
        if self.enabled:
            self._pass = {"first_span": len(self.tracer.spans),
                          "first_exec": next_execution_id(self.spark),
                          "first_job": max(job_ids(self.sc), default=-1) + 1,
                          "counts": defaultdict(float), "batch_s": []}

    def op(self, name: str):
        """The span of one timed operation; its phases are its children."""
        return self.tracer.span(f"op.{name}")

    def end_pass(self, cores: int, extras: dict) -> dict | None:
        """One traced pass as {metric: value}; None when tracing is off."""
        if not self.enabled:
            return None
        spans = self.tracer.spans[self._pass["first_span"]:]
        c = self._pass["counts"]
        submitted = job_submissions(self.sc, self._pass["first_job"])
        build_jobs: set[int] = set()
        exec_jobs: set[int] = set()
        for s in spans:
            if s.get("kind") is None:
                continue
            dur = s["end"] - s["start"]
            s["jobs"] = [j for j, t in submitted.items() if s["wall_start"] <= t <= s["wall_end"]]
            if s["kind"] == "build":
                c["plans.build_s"] += dur
                c["plans.py4j_calls"] += s["py4j"]
                build_jobs.update(s["jobs"])
            else:
                c["exec.wall_s"] += dur
                exec_jobs.update(s["jobs"])
            if s["name"].startswith(("q.", "sinks.", "pipeline.")):
                c[s["name"] + "_s"] += dur
        c["plans.build_jobs"] = len(build_jobs)
        c["exec.jobs"] = len(exec_jobs)
        for k, v in stage_totals(self.sc, exec_jobs).items():
            c[f"exec.{k}"] = v
        if c["exec.wall_s"]:
            c["exec.busy_frac"] = c["exec.task_s"] / (cores * c["exec.wall_s"])
        for k, v in python_worker_totals(self.spark, self._pass["first_exec"]).items():
            c[f"python.{k}"] = v
        c.update(extras)
        return {"batch_s": self._pass["batch_s"], **c}
