"""alphalens_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload factor --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout, in one Python process driving
``local[nproc]``. Set-up generates the workload's inputs from the seed,
persists them and warms every op type; then a fixed sequence of ops runs
one after another and every op's output is checked. The sequence is fixed
by the workload and ``--seconds`` (not by a time box), so every run takes
its percentiles over the same mix. See perfbench/NOTES.md for the
workloads, metrics and settings.

The last line of standard output is the result object; the line before it
is a report with the per-op-type sample counts, host load and drift check.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Ops per second of --seconds, measured on a 4-core host at local[4]: a
# run makes round(seconds * rate) ops, and at least one of every op type.
OPS_PER_SECOND = {"factor": 0.85, "corpus": 1.0}
WARM_THREADS = 4
DRIFT_FLAG = 0.10
DRIVER_MEMORY = "1g"


def process_start_time() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: the order statistics
    weighted by a Beta(q(n+1), (1-q)(n+1)) distribution over their ranks.

    A run holds a few ops of each of ~12 op types, so a single order
    statistic (the plain sample median) jumps between op types from run to
    run; the weighted form moves smoothly with every op's time.
    """
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_norm = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t) - log_norm)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2) * (t[1] - t[0])])
    edges = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1])
    edges[0], edges[-1] = 0.0, 1.0
    return float(np.diff(edges) @ x)


def cpu_ticks() -> dict:
    """Host CPU time counters (USER_HZ ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def pin_session(workdir: str, trace: bool) -> dict:
    """Environment for ``get_spark``: cores, driver heap, dirs under the
    run's work dir, and a benchmark-owned spark-defaults.conf."""
    cpus = len(os.sched_getaffinity(0))
    conf_dir = os.path.join(workdir, "conf")
    event_dir = os.path.join(workdir, "eventlog")
    local_dir = os.path.join(workdir, "local")
    tmp_dir = os.path.join(workdir, "tmp")
    for d in (conf_dir, event_dir, local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        # the heap starts at its cap, so peak RSS depends less on when the
        # JVM chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    if trace:
        defaults.update(
            {
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_CONF_DIR": conf_dir,
        "TMPDIR": tmp_dir,
        # every JVM, the launcher's too: no files outside the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
    }
    os.environ.update(settings)
    return {"env": settings, "spark_defaults": defaults, "event_dir": event_dir}


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit.
    Safe to call twice."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_process = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import alphalens_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        return run(args, t_process, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))  # only when no other run uses it


def run(args, t_process, workdir) -> int:
    from alphalens_spark.session import get_spark

    trace = bool(args.trace)
    pinned = pin_session(workdir, trace)
    load_before = os.getloadavg()
    spark = get_spark(f"perfbench-{args.workload}")
    try:
        return measure(args, t_process, spark, pinned, load_before, workdir)
    finally:
        stop_session(spark)


def measure(args, t_process, spark, pinned, load_before, workdir) -> int:
    import numpy as np

    from perfbench.workloads import WORKLOADS, CheckFailed

    trace = bool(args.trace)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    wl = WORKLOADS[args.workload](spark, np.random.default_rng(args.seed), workdir)
    attempted = failed = 0
    failures: list[str] = []
    lock = threading.Lock()

    def attempt(name: str, traced: bool):
        """One op: time run() and release(), check in between. Returns the
        op's wall time, or None when it raised or failed its check."""
        nonlocal attempted, failed
        layer, run_op, check = wl.op_types[name]
        with lock:
            attempted += 1
        try:
            with tracer.op(layer) if traced else contextlib.nullcontext():
                t0 = time.perf_counter()
                value, release = run_op()
                dt = time.perf_counter() - t0
            if check is not None:
                check(value)
            if release is not None:
                t0 = time.perf_counter()
                release()
                dt += time.perf_counter() - t0
            return dt
        except CheckFailed as exc:
            why = f"{name}: {exc}"
        except Exception as exc:  # an op that raises is a failed op, not a crashed run
            why = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        with lock:
            failed += 1
            failures.append(why)
        return None

    wl.setup()
    n_ops = max(len(wl.op_types), round(args.seconds * OPS_PER_SECOND[args.workload]))
    seq = wl.sequence(n_ops)
    wl.prepare(list(wl.op_types) + seq * (2 if trace else 1))
    # one untimed call of every op type pays its first-call costs (code
    # generation, JIT, Python workers) before timing. The calls run
    # WARM_THREADS at a time: they are mostly driver-side compilation, and
    # in sequence they would take a third of the run's time budget. The
    # report's drift check shows what warming remains.
    names = list(wl.op_types)
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        warm_s = dict(zip(names, pool.map(lambda n: attempt(n, False), names)))
    stored_mb = [storage_mb(spark)] if trace else []
    setup_s = time.time() - t_process

    plain: list[tuple[str, float]] = []
    traced: list[tuple[str, float]] = []
    overhead: list[float] = []  # traced ÷ plain time of the same op
    ticks_before = cpu_ticks()
    t_run = time.perf_counter()
    for i, name in enumerate(seq):
        if not trace:
            dt = attempt(name, False)
            if dt is not None:
                plain.append((name, dt))
            continue
        # traced run: every op twice, plain and traced, in alternating order
        pair = {}
        for is_traced in ((False, True) if i % 2 == 0 else (True, False)):
            dt = attempt(name, is_traced)
            if dt is not None:
                (traced if is_traced else plain).append((name, dt))
                pair[is_traced] = dt
            if is_traced:
                stored_mb.append(storage_mb(spark))
        if len(pair) == 2:
            overhead.append(pair[True] / pair[False])
    run_s = time.perf_counter() - t_run
    ticks = {k: v - ticks_before[k] for k, v in cpu_ticks().items()}
    load_after = os.getloadavg()
    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    if trace:
        stop_session(spark)  # flushes and closes the event log

    lat = [dt for _, dt in plain]
    by_type = {k: [dt for n, dt in plain if n == k] for k in wl.op_types}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "timed_cpu_share": {k: v / max(sum(ticks.values()), 1) for k, v in ticks.items()},
        "session": pinned["env"] | {"spark_defaults": pinned["spark_defaults"]},
        "ops_planned": len(seq),
        "samples": {k: len(v) for k, v in by_type.items()},
        "median_s": {k: statistics.median(v) for k, v in by_type.items() if v},
        "ops_s": [[n, round(dt, 4)] for n, dt in plain],
        "warm_call_s": warm_s,
        "failed_ops_ratio": {"value": failed / max(attempted, 1), "unit": "1"},
        "failures": failures[:20],
    }
    metrics = {}
    if lat:
        # drift: each op's time over its type's median, first half of the
        # run against the second, so the mix of types does not enter
        rel = [dt / report["median_s"][n] for n, dt in plain]
        half = len(rel) // 2
        drift = statistics.median(rel[half:]) / statistics.median(rel[:half]) - 1 if half else 0.0
        report["drift"] = {"second_half_vs_first": drift, "flagged": abs(drift) > DRIFT_FLAG}
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_p50_s": {"value": hd_quantile(lat, 0.50), "unit": "s"},
            "latency_p75_s": {"value": hd_quantile(lat, 0.75), "unit": "s"},
            "throughput_ops_per_s": {"value": len(lat) / sum(lat), "unit": "ops/s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
        report["timed_wall_s"] = run_s
    if trace:
        metrics = traced_metrics(tracer, pinned["event_dir"], wl, traced, overhead, stored_mb)
    print(json.dumps({"report": report}))
    correct = failed == 0 and bool(lat)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def storage_mb(spark) -> float:
    """Bytes of every persisted RDD (memory plus disk), in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def traced_metrics(tracer, event_dir, wl, traced, overhead, stored_mb) -> dict:
    from perfbench.trace import LAYER_METRICS, LAYER_MODULES

    layers, checkpoint = tracer.layer_metrics(event_dir)
    metrics = {}
    for layer in LAYER_MODULES:
        for m, unit in LAYER_METRICS:
            metrics[f"{layer}.{m}"] = {"value": layers[layer][m], "unit": unit}
    metrics["cache.stored_mb"] = {"value": max(stored_mb), "unit": "MB"}
    metrics["checkpoint.blocks"] = {"value": checkpoint["blocks"], "unit": "count"}
    metrics["checkpoint.mb"] = {"value": checkpoint["mb"], "unit": "MB"}
    recall = getattr(wl, "recall", {}).get("minhash", 0.0)
    precision = getattr(wl, "precision", {}).get("minhash", 0.0)
    metrics["scale.dedup.recall"] = {"value": recall, "unit": "1"}
    metrics["scale.dedup.precision"] = {"value": precision, "unit": "1"}
    metrics["trace.latency_p50_s"] = {
        "value": hd_quantile([dt for _, dt in traced], 0.5) if traced else 0.0,
        "unit": "s",
    }
    metrics["trace.overhead_pct"] = {
        "value": (statistics.median(overhead) - 1.0) * 100.0 if overhead else 0.0,
        "unit": "%",
    }
    return metrics


if __name__ == "__main__":
    sys.exit(main())
