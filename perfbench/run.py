#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 20 --trace 0

Run from the repository root. One process drives Spark `local[nproc/2]`
from one thread in a closed loop: stage the seeded inputs, start the
session, warm up with untimed passes, then run passes (each a fixed list
of operations) while the next one is expected to end within `--seconds`.
Outputs are checked after the timed passes, and the last line printed is
one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics. A traced run alternates untraced and traced passes,
so the tracing overhead is measured in the same process. Spans go to
`perfbench/.work/traces/<run>.jsonl`. Everything a run writes stays under
`perfbench/.work/` and is removed at exit, except the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "mrc_spark_jobs_pubmed_spark"
# Fixed, far below host RAM, and pre-touched: the Java heap then counts in
# full in the peak memory from the start, so that metric moves with memory
# outside the heap (Python driver and workers, metaspace, native buffers)
# instead of with when the collector chose to grow the heap. Heap pressure
# shows in the per-layer GC and spill counts.
DRIVER_MEM = "2g"
STAGE_REPEATS = 3  # input staging is repeated and its median counted
MIN_PASSES = 2  # timed passes in an untraced run, however long a pass takes
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


class TreeSampler(threading.Thread):
    """Samples the memory of this process and all its descendants, and
    remembers every descendant it saw so they can be waited for.

    Memory is RSS from /proc/<pid>/statm, which is cheap to read; pages a
    forked Python worker shares with its parent count in both. A java
    process whose parent is the JVM is skipped: it is a spawn that still
    shares the JVM's address space until it runs another program."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict[int, str] = {}  # pid -> start time, against pid reuse
        self._stop_evt = threading.Event()

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
        return out

    @staticmethod
    def start_time(pid: int) -> str | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[19]
        except OSError:
            return None

    @staticmethod
    def _rss(pid: int) -> int:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total, stack = 0, [(os.getpid(), "")]
        while stack:
            pid, parent_exe = stack.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                if not (exe == parent_exe and os.path.basename(exe) == "java"):
                    total += self._rss(pid)
            except OSError:
                continue
            if pid != os.getpid() and pid not in self.seen:
                self.seen[pid] = self.start_time(pid) or ""
            stack.extend((c, exe) for c in self._children(pid))
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()

    def wait_gone(self, timeout: float) -> None:
        """Wait until every descendant ever seen has exited; SIGKILL what
        is left after `timeout` and wait for that too."""
        for grace, kill in ((timeout, True), (10.0, False)):
            deadline = time.monotonic() + grace
            while True:
                alive = [p for p, st in self.seen.items() if self.start_time(p) == st]
                for pid in alive:
                    try:
                        os.waitpid(pid, os.WNOHANG)  # reaps our own children
                    except ChildProcessError:
                        pass
                if not alive or time.monotonic() > deadline:
                    break
                time.sleep(0.1)
            if not alive or not kill:
                return
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds (user + system) of this process and all its descendants
    (the Python driver, the JVM and the Python workers, reaped children
    included), less the JVM's JIT compiler threads.

    Unlike wall time, CPU time leaves out the time a shared host gives to
    other tenants, whether its hypervisor takes the CPU away (steal) or
    another process runs on it. The compiler threads are left out because
    the JIT keeps compiling in the background for many passes after
    warm-up, and how far it has got depends on the host's speed; their
    time is reported on its own (`jit.cpu_s`). The JVM runs with a fixed
    number of compiler threads, so none exits and takes its time along."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        self.jvm_pid = self._find_jvm()
        self.jit_tids = []
        if self.jvm_pid is not None:
            for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
                with open(f"/proc/{self.jvm_pid}/task/{tid}/comm") as f:
                    if f.read().startswith(self.JIT_THREADS):
                        self.jit_tids.append(tid)

    @staticmethod
    def _find_jvm() -> int | None:
        stack = [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                if os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java":
                    return pid
            except OSError:
                continue
            stack.extend(TreeSampler._children(pid))
        return None

    def jit_s(self) -> float:
        total = 0
        for tid in self.jit_tids:
            try:
                total += sum(int(x) for x in _stat_fields(
                    f"/proc/{self.jvm_pid}/task/{tid}/stat")[11:13])
            except OSError:
                pass
        return total / CLOCK_TICKS

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the tree less the JIT, JIT seconds) so far."""
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                total += sum(int(x) for x in _stat_fields(f"/proc/{pid}/stat")[11:15])
            except OSError:
                continue
            stack.extend(TreeSampler._children(pid))
        jit = self.jit_s()
        return total / CLOCK_TICKS - jit, jit


def configure_env(work: str, cores: int) -> None:
    """Run settings, identical for every run: core count, driver memory,
    per-run local and temp dirs, and an import path for Python workers."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
    })


def start_session(work: str):
    from mrc_spark_jobs_pubmed_spark.session import get_session

    return get_session(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    })


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_pass(wl, ctx, layers, label: str, cores: int, times, cpu, jit, errors) -> dict | None:
    """One pass: each operation's wall time goes to `times`, its CPU time
    and JIT time (see CpuMeter) to `cpu` and `jit`."""
    pass_dir = os.path.join(ctx.work, label)
    layers.begin_pass()
    for op in wl.ops(ctx, pass_dir):
        c0, j0 = ctx.cpu.read()
        t0 = time.perf_counter()
        try:
            with layers.op(op.name):
                post = op.fn()
            dt = time.perf_counter() - t0
            c1, j1 = ctx.cpu.read()
            if post:
                post()
            times[op.name].append(dt)
            cpu[op.name].append(c1 - c0)
            jit[op.name].append(j1 - j0)
        except Exception:
            errors[op.name] += 1
            traceback.print_exc()
    return layers.end_pass(cores, wl.pass_extras(ctx, pass_dir))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(args, work: str, cores: int) -> dict:
    import tracing
    from workloads import WORKLOADS, Context

    wl = WORKLOADS[args.workload]()
    ctx = Context(None, work, args.seed, None)
    stage_s, digests = [], []
    for i in range(STAGE_REPEATS):
        t0 = time.perf_counter()
        digests.append(wl.stage(ctx, os.path.join(work, f"inputs{i}")))
        stage_s.append(time.perf_counter() - t0)
    for i in range(1, STAGE_REPEATS):
        shutil.rmtree(os.path.join(work, f"inputs{i}"), ignore_errors=True)
    inputs_ok = len(set(digests)) == 1  # same seed, same inputs

    t0 = time.perf_counter()
    ctx.spark = start_session(work)
    session_s = time.perf_counter() - t0
    ctx.cpu = CpuMeter()
    t0 = time.perf_counter()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx.layers = layers = tracing.Layers(ctx.spark, run_id)
    wl.setup(ctx, os.path.join(work, "inputs0"))
    warm_errors = defaultdict(int)
    for i in range(wl.warm_passes):
        run_pass(wl, ctx, layers, f"warm{i}", cores, defaultdict(list), defaultdict(list),
                 defaultdict(list), warm_errors)
    warm_s = time.perf_counter() - t0
    setup_s = session_s + median(stage_s) + warm_s

    times: dict[str, list] = defaultdict(list)
    traced_times: dict[str, list] = defaultdict(list)
    cpu: dict[str, list] = defaultdict(list)
    traced_cpu: dict[str, list] = defaultdict(list)
    jit: dict[str, list] = defaultdict(list)
    errors: dict[str, int] = defaultdict(int, warm_errors)
    records = []
    t_start = time.perf_counter()
    pass_s = []
    # Passes until the next one would end after --seconds, judged by the
    # median pass so far, so a run measures whole passes and no more than
    # its window; at least MIN_PASSES. A traced run alternates untraced and
    # traced passes, starting and ending untraced (so at least three), so
    # that a pass-to-pass warming trend does not bias the overhead.
    min_passes = 3 if args.trace else MIN_PASSES
    while True:
        pass_no = len(pass_s) + 1
        traced = bool(args.trace) and pass_no % 2 == 0
        layers.set_enabled(traced)
        t0 = time.perf_counter()
        rec = run_pass(wl, ctx, layers, f"pass{pass_no}", cores,
                       traced_times if traced else times, traced_cpu if traced else cpu,
                       jit, errors)
        pass_s.append(time.perf_counter() - t0)
        layers.set_enabled(False)
        if rec is not None:
            records.append(rec)
        ends_untraced = not (args.trace and pass_no % 2 == 0)
        next_end = time.perf_counter() - t_start + median(pass_s)
        if pass_no >= min_passes and ends_untraced and next_end > args.seconds:
            break

    # output checks, outside the timed region
    failed = sum(errors.values())
    attempted = sum(len(v) for v in times.values()) + sum(len(v) for v in traced_times.values())
    attempted += failed
    check_errors = {}
    t_check = time.perf_counter()
    try:
        results = wl.check(ctx)
    except Exception as exc:
        traceback.print_exc()
        results = {name: f"{type(exc).__name__}: {exc}" for name in times}
    for name, err in results.items():
        if err:
            check_errors[name] = err
            failed += len(times[name]) + len(traced_times[name])
    check_s = time.perf_counter() - t_check
    for name, err in check_errors.items():
        print(f"CHECK FAILED {name}: {err}", file=sys.stderr)
    if not inputs_ok:
        print("CHECK FAILED inputs: staging is not deterministic", file=sys.stderr)

    wall_s = sum(median(v) for v in times.values())
    cpu_s = sum(median(v) for v in cpu.values())
    jit_s = sum(median(v) for v in jit.values())
    out = {"ok": inputs_ok and not check_errors and failed == 0,
           "attempted": max(attempted, 1), "failed": failed,
           "e2e": {"setup_s": setup_s, "cpu_s": cpu_s},
           "wall_s": wall_s,
           "op_median_s": {k: median(v) for k, v in times.items()},
           "op_times_s": dict(times),
           "op_cpu_s": dict(cpu),
           "op_jit_s": dict(jit),
           "run_parts": {"stage_s": median(stage_s), "session_s": session_s, "warm_s": warm_s,
                         "measure_s": t_check - t_start, "check_s": check_s,
                         "passes": len(pass_s)}}
    if args.trace:
        out["layers"] = per_layer(records, traced_times, traced_cpu, wall_s, cpu_s,
                                  session_s, median(stage_s), warm_s)
        out["layers"]["jit.cpu_s"] = jit_s
        out["ok"] = out["ok"] and out["layers"].pop("_gap_ok")
        os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
        layers.tracer.write_jsonl(os.path.join(HERE, ".work", "traces", f"{run_id}.jsonl"))
    return out


GAP_TOLERANCE = 0.05  # build + exec spans must cover this share of op time


def per_layer(records, traced_times, traced_cpu, untraced_wall, untraced_cpu,
              session_s, stage_s, warm_s) -> dict:
    """Median over traced passes of each per-layer count, plus the
    tracing overhead and the span-coverage check."""
    from tracing import percentile

    keys = set().union(*(r.keys() for r in records)) - {"batch_s"}
    out = {k: median([r.get(k, 0.0) for r in records]) for k in keys}
    traced_wall = sum(median(v) for v in traced_times.values())
    traced_cpu_s = sum(median(v) for v in traced_cpu.values())
    span_wall = out.get("plans.build_s", 0.0) + out.get("exec.wall_s", 0.0)
    batches = [b for r in records for b in r["batch_s"]]
    pages = out.get("ingest.pages", 0.0)
    out.update({
        "session.start_s": session_s,
        "setup.stage_s": stage_s,
        "setup.warmup_s": warm_s,
        "streaming.batch_p50_s": percentile(batches, 50),
        "streaming.batch_p90_s": percentile(batches, 90),
        "streaming.batch_samples": len(batches),
        "ingest.fetch_calls_per_page": out.get("ingest.fetch_calls", 0.0) / pages if pages else 0.0,
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.cpu_s": traced_cpu_s,
        "trace.untraced_cpu_s": untraced_cpu,
        "trace.cpu_overhead_s": traced_cpu_s - untraced_cpu,
        "trace.span_gap_frac": abs(traced_wall - span_wall) / traced_wall if traced_wall else 0.0,
    })
    out["_gap_ok"] = out["trace.span_gap_frac"] <= GAP_TOLERANCE
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    e2e_units, layer_units = metric_specs()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Half the CPUs the process may use: the task threads then leave room
    # for the Python driver and workers, the JIT and GC threads, and other
    # tenants of a shared host, instead of queueing behind them.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    configure_env(work, cores)
    sampler = TreeSampler()
    sampler.start()
    try:
        result = measure(args, work, cores)
    finally:
        t_stop = time.perf_counter()
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            stop_session(active)
        sampler.stop()
        sampler.wait_gone(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    print("op medians (s): " + json.dumps({k: round(v, 3) for k, v in result["op_median_s"].items()}),
          file=sys.stderr)
    for label, key in (("op times", "op_times_s"), ("op cpu times", "op_cpu_s"),
                       ("op jit times", "op_jit_s")):
        print(f"{label} (s): " + json.dumps({k: [round(x, 3) for x in v]
                                             for k, v in result[key].items()}), file=sys.stderr)
    print(f"wall_s: {result['wall_s']:.3f}", file=sys.stderr)
    result["run_parts"]["stop_s"] = stop_s
    print("run parts (s): " + json.dumps({k: round(v, 3) for k, v in result["run_parts"].items()}),
          file=sys.stderr)
    values = dict(result["e2e"], peak_rss_mb=sampler.peak_bytes / 2**20)
    units = layer_units if args.trace else e2e_units
    if args.trace:
        values = result["layers"]
    missing = [k for k in e2e_units if k not in values] if not args.trace else []
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": bool(result["ok"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
