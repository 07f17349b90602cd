"""Closed-loop op runner, statistics and per-op Spark accounting.

One client: in the measured loop each op starts only after the previous
one returned. The first call of each op class is a warm-up; its latency
is kept apart as that class's cold cost. Latency and CPU samples come
from the measured loop only. An op that raises, or whose result fails its
check, counts as failed.

Set-up and warm-up may run two independent halves of a workload at once
(``parallel``): they are not measured per op, and the JVM's cold start
is most of a run's time.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from .trace import Tracer, self_times


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest whole percentile with at least 10 samples beyond it, as
    (percentile, value); (None, None) below 20 samples."""
    n = len(xs)
    if n < 20:
        return None, None
    pct = math.floor(100 * (1 - 10 / n))
    qs = statistics.quantiles(xs, n=100, method="inclusive")
    return pct, qs[pct - 1]


class CheckFailed(Exception):
    pass


def process_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, plus reaped children) of ``root_pid`` and
    every live process below it. Time the hypervisor steals from the
    virtual CPUs is not in these counters."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we looked
            continue
        f = raw[raw.rfind(")") + 2:].split()
        stats[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, spark, tracer: Tracer | None, cpu_clock) -> None:
        """``cpu_clock()`` returns the CPU seconds used so far by the JVM and
        Spark's Python workers. An op's CPU cost is that clock's difference
        plus the driver process's own CPU time over the op."""
        self.spark = spark
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.classes: dict[str, None] = {}  # op classes in first-run order
        self.warm: dict[str, list[float]] = defaultdict(list)
        self.warm_cpu: dict[str, list[float]] = defaultdict(list)
        self.cold: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []  # traced ops: id, class, latency, job group
        self.in_window = False
        self.window_ops = 0
        self._next_op = 0
        self._lock = threading.Lock()  # the bookkeeping, when two halves run at once

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.installed

    def _fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(msg)
        print(f"[perfbench] FAILED {msg}", file=sys.stderr, flush=True)

    def op(self, cls: str, fn, check=None):
        """Run one op: ``fn()`` does the work and returns its result,
        ``check(result)`` raises CheckFailed on a wrong result (untimed)."""
        with self._lock:
            self.classes.setdefault(cls)
            self.attempted += 1
            op_id = self._next_op
            self._next_op += 1
        group = f"perfbench-op-{op_id}"
        traced = self.tracing
        if traced:
            self.spark.sparkContext.setJobGroup(group, cls)
            self.tracer.op_id = op_id
        cpu0 = self.cpu_clock()
        p0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{cls}", cls=cls):
                    result = fn()
            else:
                result = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self._fail(f"{cls}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            latency = time.perf_counter() - t0
            cpu = time.process_time() - p0 + self.cpu_clock() - cpu0
            if traced:
                self.tracer.op_id = None
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            if cls not in self.cold:
                self.cold[cls] = latency
            elif self.in_window:
                self.warm[cls].append(latency)
                self.warm_cpu[cls].append(cpu)
                self.window_ops += 1
            if traced:
                self.ops.append({"id": op_id, "cls": cls, "latency": latency, "group": group,
                                 "window": self.in_window})
        if check is not None:
            try:
                check(result)
            except CheckFailed as e:
                self._fail(f"{cls}: wrong result: {e}"[:300])
        return result

    def action(self, fn):
        """Run the Spark action of an op; a span of its own when tracing, so
        the op's build time (call until the DataFrame is returned) and action
        time can be told apart."""
        if self.tracing:
            with self.tracer.span("action"):
                return fn()
        return fn()

    @staticmethod
    def parallel(*halves) -> None:
        """Run the zero-argument callables ``halves`` at once, one thread
        each, and wait for all; re-raise the first error. For set-up and
        warm-up only: the measured loop is one client."""
        with ThreadPoolExecutor(max_workers=len(halves)) as pool:
            for f in [pool.submit(h) for h in halves]:
                f.result()

    def closed_loop(self, rounds: int, round_steps) -> float:
        """Run ``rounds`` whole rounds ``round_steps(r)`` (lists of
        zero-argument op calls) back to back; return the wall time. Every run
        of a workload does the same ops in the same order, so runs compare
        like for like."""
        self.in_window = True
        t0 = time.perf_counter()
        try:
            for r in range(rounds):
                for step in round_steps(r):
                    step()
        finally:
            self.in_window = False
        return time.perf_counter() - t0

    # ---- summaries -------------------------------------------------------

    def class_stats(self) -> dict:
        out = {}
        for cls in self.classes:
            xs = self.warm.get(cls, [])
            pct, tv = tail(xs)
            out[cls] = {"n": len(xs), "p50_s": median(xs),
                        "cpu_p50_s": median(self.warm_cpu.get(cls, [])),
                        "tail_pct": pct, "tail_s": tv, "cold_s": self.cold.get(cls)}
        return out

    def path_p50(self, classes, cpu: bool = False) -> float | None:
        """Geometric mean over ``classes`` of each class's median warm
        latency, or median CPU seconds with ``cpu``; None when a class has
        no warm sample."""
        samples = self.warm_cpu if cpu else self.warm
        meds = [median(samples.get(cls, [])) for cls in classes]
        return None if None in meds else statistics.geometric_mean(meds)


def spark_job_stats(sc, group: str) -> dict:
    """Jobs, stages run and tasks completed under one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def layer_report(tracer: Tracer, ops: list[dict], sc) -> tuple[dict, dict]:
    """Per-function and per-op figures from the traced spans.

    Returns (functions, per_op): ``functions[name]`` holds calls, calls per
    traced op, median self/total seconds and py4j calls per call;
    ``per_op[id]`` holds build/action seconds, py4j calls and Spark job
    counts of one traced op."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_op: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            by_op[s["op"]].append(s)
    per_op = {}
    for op in ops:
        ss = by_op.get(op["id"], [])
        root = next((s for s in ss if s["name"].startswith("op.")), None)
        action = sum(s["end"] - s["start"] for s in ss if s["name"] == "action")
        per_op[op["id"]] = {
            "cls": op["cls"], "latency_s": op["latency"],
            "build_s": op["latency"] - action, "action_s": action,
            "py4j_calls": root["py4j"] if root else 0,
            **spark_job_stats(sc, op["group"]),
        }
    window = {op["id"] for op in ops if op["window"]}
    n_ops = max(len(window), 1)
    names = {s["id"]: s["name"] for s in spans}
    funcs: dict[str, dict] = {}
    groups: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        groups[s["name"]].append(s)
    for name, ss in sorted(groups.items()):
        # figures from the warm ops of the loop; set-up and warm-up calls
        # (cold, or made only once) are summarised apart
        in_ops = [s for s in ss if s["op"] in window]
        rest = [s for s in ss if s["op"] not in window]
        use = in_ops or rest
        funcs[name] = {
            "calls": len(in_ops),
            "calls_per_op": len(in_ops) / n_ops,
            "self_s": median([selfs[s["id"]] for s in use]),
            "total_s": median([s["end"] - s["start"] for s in use]),
            "py4j_per_call": median([s["py4j"] for s in use]),
            "from": "loop" if in_ops else "setup",
        }
        if rest:
            funcs[name]["setup_calls"] = len(rest)
            funcs[name]["setup_self_s"] = median([selfs[s["id"]] for s in rest])
        # action time of the ops whose build this function led (outermost
        # engine span of the op)
        led = [s for s in in_ops if names.get(s["parent"], "").startswith("op.")]
        if led:
            funcs[name]["build_s"] = median([s["end"] - s["start"] for s in led])
            funcs[name]["action_s"] = median([per_op[s["op"]]["action_s"] for s in led])
    return funcs, per_op
