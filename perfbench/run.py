"""Lance engine benchmark: one closed-loop workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_scan --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics; with ``--trace 1`` they are the per-layer
metrics of a traced run, whose spans are written as JSONL under
``.perfbench/out/``. The line before it is a ``detail`` object with the
workload's own named metrics, per-op-class statistics and set-up parts.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

PACKAGE = "flink_connector_lance_spark"
# --seconds // ROUND_S whole rounds run (at least one); a round of either
# workload takes about this long on 4 CPUs
ROUND_S = 10.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate to kill whatever went wrong
            proc.kill()
            proc.wait(timeout=30)


def spark_conf(tmp: str) -> dict:
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp; all files stay in the checkout.
        # -XX:TieredStopAtLevel=1: the C1 compiler only. C2 keeps compiling
        # through the whole of a short run on background threads, at a pace
        # set by how busy the host is, so with it an op's speed and CPU
        # count depend on how far the JIT has got.
        # -XX:+UseSerialGC: collections run on one thread; parallel GC
        # workers spin while they wait for each other, more so on a busy host.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def run(args, root: str) -> tuple[dict, dict]:
    import numpy as np

    from perfbench.harness import Runner, layer_report, median, process_tree_cpu_s
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench"))
    for d in ("spark-local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "jtmp")
    tempfile.tempdir = None
    tracer = Tracer() if args.trace else None
    spark = wl = None
    try:
        from flink_connector_lance_spark import session

        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        p0 = time.process_time()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}",
                                  master=f"local[{len(os.sched_getaffinity(0))}]",
                                  extra_conf=spark_conf(tmp))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        jvm_pid = _jvm_proc().pid
        rt = Runner(spark, tracer, cpu_clock=lambda: process_tree_cpu_s(jvm_pid))
        wl = WORKLOADS[args.workload](spark, rt, np.random.default_rng(args.seed),
                                      os.path.join(tmp, "data"))
        wl.setup()
        setup_s = time.perf_counter() - t0
        # everything the JVM and its workers used since launch, plus the driver
        setup_cpu_s = time.process_time() - p0 + process_tree_cpu_s(jvm_pid)
        wl.warmup()
        warmup_s = time.perf_counter() - t0 - setup_s
        rounds = max(1, int(args.seconds // ROUND_S))
        steal0 = _steal_ticks()
        window_s = rt.closed_loop(rounds, wl.round)
        steal1 = _steal_ticks()
        t1 = time.perf_counter()
        named = wl.finish(window_s)
        finish_s = time.perf_counter() - t1
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)

        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "rounds": rounds, "window_s": window_s, "window_ops": rt.window_ops,
            # the gated paths' wall-clock latency, and the share of the
            # host's CPU time the hypervisor stole during the loop
            "latency_s": {m: rt.path_p50(cls) for m, cls in wl.PATHS.items()},
            "loop_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "phases_s": {"setup": setup_s, "warmup": warmup_s, "window": window_s,
                         "finish": finish_s},
            "setup_parts_s": {"session_s": session_s, **wl.setup_parts},
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "classes": rt.class_stats(),
            "samples_s": dict(rt.warm),
            "samples_cpu_s": dict(rt.warm_cpu),
            "failures": rt.failures,
        }
        path_cpu = {m: (rt.path_p50(cls, cpu=True), "s") for m, cls in wl.PATHS.items()}
        if not tracer:
            metrics = {"setup_s": (setup_cpu_s, "s"), **path_cpu}
        else:
            tracer.uninstall()
            funcs, per_op = layer_report(tracer, rt.ops, spark.sparkContext)
            # the loop's ops on the gated paths; the millisecond count_rows
            # calls would otherwise make every per-op median read zero jobs
            gated = {c for cls in wl.PATHS.values() for c in cls}
            win = [per_op[o["id"]] for o in rt.ops if o["window"] and o["cls"] in gated]
            out_dir = os.path.join(root, ".perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.write_jsonl(stem + "-spans.jsonl")
            detail["functions"] = funcs
            detail["spans_file"] = os.path.relpath(stem + "-spans.jsonl", root)

            def fn(name, key):
                return (funcs.get(name) or {}).get(key)

            def per_op_mean(key):
                return sum(o[key] for o in win) / len(win) if win else None

            metrics = {
                "driver.py4j_calls_per_op": (per_op_mean("py4j_calls"), "count"),
                "driver.build_s": (median([o["build_s"] for o in win]), "s"),
                # ops with Spark action spans; writes, deletes and compaction
                # run their jobs inside the engine call
                "driver.action_s": (median([o["action_s"] for o in win if o["action_s"] > 0]),
                                    "s"),
                "spark.jobs_per_op": (per_op_mean("jobs"), "count"),
                "spark.stages_per_op": (per_op_mean("stages"), "count"),
                "spark.tasks_per_op": (per_op_mean("tasks"), "count"),
                "sources.reader.read_dataset.build_s":
                    (fn("sources.reader.read_dataset", "total_s"), "s"),
                "sources.writer.write_dataset.self_s":
                    (fn("sources.writer.write_dataset", "self_s"), "s"),
                "sources.fragments.commit.self_s":
                    (fn("sources.fragments.commit", "self_s"), "s"),
                "sources.fragments.read_manifest.calls_per_op":
                    (fn("sources.fragments.read_manifest", "calls_per_op"), "count"),
                "session.peak_rss_mb": (peak_rss, "MB"),
                "session.warmup_s": (sum(rt.cold[c] for c in rt.warm), "s"),
                # the traced run's end-to-end figures: against the untraced
                # runs' they give the tracing overhead
                **{f"trace.{m}": v for m, v in path_cpu.items()},
            }
            with open(stem + "-layers.json", "w") as fh:
                json.dump({"functions": funcs, "per_op": per_op}, fh, indent=1)
        result = {
            "correct": rt.failed == 0,
            "attempted": rt.attempted,
            "failed": rt.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result
    finally:
        if tracer:
            tracer.uninstall()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM unwind through run()'s clean-up: stop the JVM, remove the data
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    detail, result = run(args, root)
    missing = [k for k, m in result["metrics"].items() if m["value"] is None]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
