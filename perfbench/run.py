"""Benchmark command: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload graph_build_query --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Inputs, oracle fingerprints, Spark
scratch space and trace files live under ``perfbench/.work``.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics).  The lines before it print every
metric by name and unit, with its sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Per-call counters emitted in a traced run; calls not listed here emit
# all of probes.SPARK_COUNTERS.
DRIVER_ONLY = ("wall_s",)
CALL_COUNTERS = {
    "session.get_spark": DRIVER_ONLY,
    "graph.build.build_graph": DRIVER_ONLY,
}
CONSTRUCT_COUNTERS = ("wall_s", "jobs")
# Wall time per op is printed but not gated: on a shared host, even at
# the reference host speed, it spread by 24-31% over nine runs of the
# same code, more than any bound may allow (25%).
END_TO_END = ("cpu_s_per_op", "shuffle_mb_per_op", "input_mb_per_op", "setup_s")
SAVE_EXTRA = ("files_written", "bytes_written")
# Before a host-speed sample, wait (at most QUIET_MAX_S) for a window in
# which the process tree uses under QUIET_CPU_SHARE of one core.
QUIET_WINDOW_S, QUIET_CPU_SHARE, QUIET_MAX_S = 0.25, 0.2, 3.0

UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
    "gc_s": "s", "input_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "idle_core_s": "s", "python_workers_cpu_s": "s", "files_written": "count",
    "bytes_written": "B", "peak_rss_mb": "MB",
}


def pin_environment() -> int:
    """Host-derived Spark settings, set before the JVM starts.  Returns
    the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # A third of the host, so other tenants and the Python workers fit.
    heap_gb = max(1, min(48, mem_kb // (3 * 1024 * 1024)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # The pandas-UDF workers import the package: give them the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    return cores


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def layer_metrics(spans, peak_rss_mb: float = 0.0) -> dict[str, float]:
    """Median over the traced ops of each counter of each call.  Calls
    the workload does not make read 0."""
    from perfbench.probes import SPARK_COUNTERS
    from perfbench.workloads import GRAPH_CALLS, REGISTRY_QUERIES

    names = ["session.get_spark", *GRAPH_CALLS]
    names += [f"queries.{q}.{p}" for q in REGISTRY_QUERIES for p in ("construct", "collect")]
    out = {}
    for call in names:
        if call.endswith(".construct"):
            counters = CONSTRUCT_COUNTERS
        elif call in CALL_COUNTERS:
            counters = CALL_COUNTERS[call]
        else:
            counters = ("wall_s", *SPARK_COUNTERS)
            if call == "graph.storage.save_graph":
                counters += SAVE_EXTRA
        mine = [s for s in spans if s.name == call]
        for c in counters:
            vals = [s.wall_s if c == "wall_s" else s.counters.get(c, 0.0) for s in mine]
            out[f"{call}.{c}"] = statistics.median(vals) if vals else 0.0
    # Peak memory moves by more than a tenth between runs of the same
    # code (JVM heap growth follows GC timing), so it is no end-to-end
    # metric.
    out["process.peak_rss_mb"] = peak_rss_mb
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    from perfbench import children

    # Every process started below this one is ended and waited for on
    # the way out, also when the run is stopped by SIGTERM.
    children.become_subreaper()
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        return run(args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        children.end_all()


def run(args) -> int:
    cores = pin_environment()
    # Fails here, before any work, where the package is absent.
    import pangenomesasgraphdatabases_spark  # noqa: F401

    from perfbench.hostspeed import HostSpeed
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = HostSpeed(cores)  # forks its loop processes before the JVM starts
    try:
        return measure(args, cores, host, WORKLOADS[args.workload])
    finally:
        host.close()


def measure(args, cores: int, host, workload) -> int:
    from perfbench.hostspeed import at_ref, cpu_at_ref
    from perfbench.probes import ProcessTree, SparkProbe, jit_s, steal_s
    from perfbench.trace import Tracer
    from perfbench.workloads import Failed

    t0 = time.perf_counter()
    host.sample()
    tracer = Tracer()
    wl = workload(WORK, args.seed, tracer)
    wl.prepare()
    # The host-speed sample and input generation are not set-up.
    excluded_s = time.perf_counter() - t0

    from pangenomesasgraphdatabases_spark.session import get_spark

    tree = ProcessTree()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    probe = SparkProbe(spark, tree, cores)
    sampled_s = 0.0  # host-speed samples taken during set-up

    def sample_host() -> float:
        """Samples the host speed once the JVM and workers are quiet:
        work an op leaves behind (collections, cleanup) would otherwise
        slow the loop.  Returns the seconds this took."""
        t = time.perf_counter()
        deadline = t + QUIET_MAX_S
        while time.perf_counter() < deadline:
            cpu0 = tree.cpu_s()
            time.sleep(QUIET_WINDOW_S)
            if tree.cpu_s() - cpu0 < QUIET_CPU_SHARE * QUIET_WINDOW_S:
                break
        host.sample()
        return time.perf_counter() - t

    sampled_s += sample_host()
    attempted = failed = 0
    errors: list[str] = []

    def run_op(k: int, traced: bool = False) -> tuple[float, float]:
        """Runs op ``k``; returns the CPU seconds of its span without
        JIT compilation, and the seconds of JIT compilation."""
        nonlocal attempted, failed
        attempted += 1
        tracer.probe = probe if traced else None
        cpu0, jit0 = tree.cpu_s(), jit_s(spark)
        try:
            with tracer.span("op", op=k):
                result = wl.op(k)
            jit = jit_s(spark) - jit0
            cpu = tree.cpu_s() - cpu0 - jit
            wl.check(result)  # outside the op's span and timer
        except Failed as e:
            failed += 1
            errors.append(str(e))
        except Exception:  # a raising op counts as failed; the loop goes on
            failed += 1
            errors.append(traceback.format_exc(limit=3))
        else:
            return cpu, jit
        finally:
            tracer.probe = None
        return 0.0, 0.0

    # A traced run alternates untraced and traced ops, so that the
    # tracing overhead is measured in one process on one host speed.
    min_ops = 2 if args.trace else 1
    ops: list[dict] = []
    try:
        wl.load(spark)
        for k in range(wl.warmup_ops):  # JIT, codegen and file caches
            run_op(k)
            sampled_s += sample_host()
        setup_raw = process_age_s() - excluded_s - sampled_s
        first_timed = len(tracer.spans)
        mark = probe.mark()
        steal0, m0 = steal_s(), time.perf_counter()
        k = wl.warmup_ops
        while len(ops) < min_ops or time.perf_counter() - m0 < args.seconds:
            traced = bool(args.trace) and len(ops) % 2 == 1
            span0 = len(tracer.spans)
            cpu, jit = run_op(k, traced)
            sample_host()
            ops.append({"k": k, "traced": traced, "spans": tracer.spans[span0:], "cpu": cpu,
                        "jit": jit})
            k += 1
        measured_s = time.perf_counter() - m0
        steal = steal_s() - steal0
        timed = probe.since(mark, measured_s)
        rss = tree.peak_rss_mb()
        try:
            wl.check_counts()
        except Failed as e:
            failed += 1
            errors.append(str(e))
    finally:
        for e in errors:
            print(f"# FAILED: {e}", file=sys.stderr)
        wl.close()
        spark.stop()

    def per_op(fn, which=lambda op: not op["traced"]) -> list[float]:
        return [fn(op) for op in ops if which(op)]

    def wall(op) -> float:
        return op["spans"][0].wall_s  # the op's own span

    # The run's host speed: the median of its samples, taken at start,
    # after session start and after every op.
    loop_s = statistics.median(w for w, _ in host.samples)
    loop_cpu_s = statistics.median(c for _, c in host.samples)
    report = {  # name: (samples, unit); times at the reference host speed
        "setup_s": ([at_ref(setup_raw, loop_s)], "s"),
        "op_s": (per_op(lambda op: at_ref(wall(op), loop_s)), "s"),
        "cpu_s_per_op": (per_op(lambda op: cpu_at_ref(op["cpu"], loop_cpu_s)), "s"),
        "shuffle_mb_per_op": ([timed["shuffle_write_mb"] / len(ops)], "MB"),
        "input_mb_per_op": ([timed["input_mb"] / len(ops)], "MB"),
        "raw.setup_s": ([setup_raw], "s"),
        "raw.op_s": (per_op(wall), "s"),
        "raw.cpu_s_per_op": (per_op(lambda op: op["cpu"]), "s"),
        "raw.jit_s_per_op": (per_op(lambda op: op["jit"]), "s"),
        "host.loop_s": ([w for w, _ in host.samples], "s"),
        "host.loop_cpu_s": ([c for _, c in host.samples], "s"),
        "peak_rss_mb": ([rss], "MB"),
        "failed_frac": ([failed / attempted], "1"),
    }
    untraced_spans = [s for op in ops if not op["traced"] for s in op["spans"]]
    for name, vals in wl.report(untraced_spans).items():
        report[f"raw.{name}"] = (vals, "s")
    print(f"# workload {wl.name} seed {args.seed}: {len(ops)} timed ops in {measured_s:.1f} s, "
          f"{steal:.2f} s of CPU stolen by the host")
    print("# host-speed loop samples, wall/CPU s: "
          + " ".join(f"{w:.4f}/{c:.4f}" for w, c in host.samples))
    for name, (vals, unit) in report.items():
        print(f"{name} {statistics.median(vals):.6g} {unit} (median of n={len(vals)})")
    if args.trace:
        traced_spans = [s for op in ops if op["traced"] for s in op["spans"]]
        metrics = {
            name: {"value": v, "unit": UNITS[name.rsplit(".", 1)[1]]}
            for name, v in layer_metrics(tracer.spans[:1] + traced_spans, rss).items()
        }
        on = per_op(lambda op: at_ref(wall(op), loop_s), lambda op: op["traced"])
        overhead = statistics.median(on) / statistics.median(report["op_s"][0]) - 1
        print(f"tracing_overhead {overhead:+.3%} of op_s ({len(on)} traced ops against "
              f"{len(report['op_s'][0])} untraced ones, at the reference host speed)")
        path = os.path.join(WORK, f"trace-{wl.name}-seed{args.seed}.json")
        tracer.dump(path, {"workload": wl.name, "seed": args.seed, "first_timed_span": first_timed,
                           "traced_ops": [op["k"] for op in ops if op["traced"]],
                           "tracing_overhead": overhead, "layer_metrics": metrics})
        print(f"# spans written to {os.path.relpath(path, REPO)}")
    else:
        metrics = {
            name: {"value": statistics.median(report[name][0]), "unit": report[name][1]}
            for name in END_TO_END
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
