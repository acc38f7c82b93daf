"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. It starts a ``local[N]`` session through
the engine's ``get_spark`` (N = usable cores; the engine's own defaults
otherwise, its JVM heap included), sets up seeded inputs, runs whole
cycles of the workload's operations closed-loop from one client thread
until ``--seconds`` seconds have passed, checks the outputs, and prints
one JSON object as the last line of stdout: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Earlier stdout lines carry the run's detail record (and,
traced, its spans).
Every file the run writes lives under a fresh ``.perfbench_tmp/``
directory in the repository root, removed before exit. The exit code
is non-zero when an operation or a correctness check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "soccer_data_pipeline_spark"


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    tmp: str


def stamp() -> dict:
    """Host state, so that a noisy run can be told apart. Numbers are
    reported as measured, never normalized by load."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/sys/kernel/random/boot_id") as fh:
        boot = fh.read().strip()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load, "boot_id": boot}


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_live_mb(spark) -> dict:
    """Memory the session's JVM holds on to, in MB: heap in use after full
    collections, and non-heap in use (class metadata, compiled code)."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python first: frames left in reference cycles still pin their JVM
    # twins. A JVM collection hands dropped broadcasts, shuffles and
    # checkpoints to Spark's cleaner thread, and only a later one frees
    # them, so collect until the heap stops shrinking.
    gc.collect()
    heap = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        prev, heap = heap, mem.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and prev - heap < 1.0:
            break
        time.sleep(1.0)
    return {"heap": heap, "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20}


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"n": n, "percentile": None, "value_s": None}
    pct = 100.0 * (n - 10) / n
    return {"n": n, "percentile": round(pct, 2), "value_s": sorted(values)[n - 11]}


def isolate_tmp(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    this run's own directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (  # UsePerfData would write to /tmp
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    isolate_tmp(tmp)
    host_before = stamp()
    spark = proc = None
    try:
        from pyspark import SparkContext
        from soccer_data_pipeline_spark.session import get_spark

        from spans import Tracer

        cores = host_before["nproc"]
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            },
        )
        proc = SparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - T_START
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](Context(spark, tracer, args.seed, tmp))
        return measure(args, wl, tracer, t_session, host_before, proc.pid)
    finally:
        try:
            shutdown(spark, proc)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run still owns a directory there


def shutdown(spark, proc) -> None:
    """Stop the session and the gateway JVM, and wait until it has exited
    (it exits when its stdin closes)."""
    import subprocess

    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                SparkContext._gateway.shutdown()
            finally:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def measure(args, wl, tracer, t_session, host_before, jvm_pid) -> int:
    import workloads

    reps = []
    for rep in range(wl.setup_reps):
        tracer.op = -1 - rep
        t = time.perf_counter()
        wl.prepare(rep)
        reps.append(time.perf_counter() - t)
    setup_s = t_session + statistics.median(reps)

    # Timed window, closed loop, whole cycles: it ends on the first cycle
    # boundary after ``--seconds``, so every operation kind of the cycle
    # is timed in every run and throughput does not depend on where the
    # window cuts.
    lat: dict[str, list[float]] = {}
    items = ops = failed_ops = cycles = 0
    t_win = time.perf_counter()
    while True:
        for kind in wl.CYCLE:
            tracer.op = ops
            t = time.perf_counter()
            try:
                items += wl.op(kind)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                traceback.print_exc()
                failed_ops += 1
                kind = "failed"
            lat.setdefault(kind, []).append(time.perf_counter() - t)
            ops += 1
        cycles += 1
        window_s = time.perf_counter() - t_win
        if window_s >= args.seconds:
            break
    tracer.enabled = False
    live_mb = jvm_live_mb(wl.spark)

    t = time.perf_counter()
    try:
        checks = wl.check()
    except Exception as e:  # noqa: BLE001 - a check that cannot run has failed
        traceback.print_exc()
        checks = [("checks_ran", False, repr(e))]
    check_s = time.perf_counter() - t
    failed_checks = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(f"perfbench check {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)

    jvm_kb = vm_hwm_kb(jvm_pid)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    attempted = ops + len(checks)
    failed = failed_ops + len(failed_checks)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_start": host_before,
        "host_end": stamp(),
        "setup_reps_s": reps,
        "session_start_s": t_session,
        "cycles": cycles,
        "window_s": window_s,
        "check_s": check_s,
        "latency_s": lat,
        "tail": {k: tail(v) for k, v in lat.items()},
        "items": items,
        "failed_ratio": failed / attempted,
        "checks": [{"name": c[0], "ok": c[1], "detail": c[2]} for c in checks],
        "jvm_peak_rss_kb": jvm_kb,
        "python_peak_rss_kb": py_kb,
        "jvm_live_mb": live_mb,
        **wl.detail,
    }
    if failed:
        metrics = {}
    elif args.trace:
        layers = {k: 0 for k in workloads.BENCHMARK_LAYERS}
        layers.update(wl.layers())
        layers.update({f"trace.{k}": v for k, v in tracer.totals().items()})
        layers["trace.overhead_s"] = tracer.overhead_s()
        layers["session.get_spark_s"] = t_session
        detail["spans"] = [
            {k: v for k, v in s.items() if k not in ("start", "end")}
            for s in tracer.self_times()
        ]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat[wl.primary]), "unit": "s"},
            "items_per_s": {"value": items / window_s, "unit": "1/s"},
            "jvm_live_mb": {"value": sum(live_mb.values()), "unit": "MB"},
        }
    detail["metrics"] = metrics
    print(json.dumps({"detail": detail}))
    result = {
        "correct": not failed_checks,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_per_input_byte", "recall_at_5")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
