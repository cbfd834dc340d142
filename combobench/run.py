"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 combobench/run.py --workload build-combo --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: build-combo, search-mix (see
combobench/workloads.py). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``); the line before it (``combobench detail: {...}``) carries
the workload's own metrics with units and sample counts, input sizes,
host noise and any check failures. Scratch files go to ``.combobench/``
under the repository root and are removed at the end of the run.

The end-to-end metrics: ``setup_s``, the CPU time of the set-up (session
start, inputs, warm-up); ``cpu_s_per_op``, the CPU time of the timed ops
over their number (a build, or a query of the mix: a mean, since the mix's
dsl, aggs and query_string queries cost 2-3x its term queries and a median
would not see them); ``index_bytes_per_content_byte``, the size of the index
built from the seeded corpus. CPU time is that of this process and every
process it starts (the Spark JVM, its Python daemon and workers), less that
of the JVM's JIT compiler threads, which is compilation in the background:
1.5 to 4 CPU-s per build, varying from build to build, for ten builds and
more after the JVM starts. The host is a share of a machine whose
hypervisor steals 0 to 20 % of its CPU time in phases of minutes; wall times
follow the steal (a 100-doc build took 3.5 s at 0.3 % and 6.9 s at 19 %),
CPU time far less. Wall times (op p50 and tail, files/s, queries/s), CPU
time per op with the JIT's share, and the steal per op are on the detail
line.
"""

from __future__ import annotations

import argparse
import faulthandler
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from combobench import trace as tracing  # noqa: E402
SCRATCH = os.path.join(ROOT, ".combobench")
#: a run that has not finished by then is stopped and fails (limit: 180 s)
DEADLINE_S = 170


class RunTimeout(Exception):
    pass


def _on_deadline(signum, frame):
    faulthandler.dump_traceback(file=sys.stderr)  # where it was stuck
    raise RunTimeout(f"run exceeded {DEADLINE_S} s")


def host_stamp() -> dict:
    """Host noise: 1-minute load average, the time of a fixed sha256 burn on
    one core (bench.py's host_calibration, single process) and the CPU tick
    counters, whose steal share tells how much the hypervisor took."""
    t = time.perf_counter()
    h = b"x" * 64
    for _ in range(50_000):
        h = hashlib.sha256(h).digest()
    return {"load1": os.getloadavg()[0],
            "calib_ms": (time.perf_counter() - t) * 1000.0,
            "ticks": tracing.cpu_ticks()}


def steal_frac(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two stamps."""
    return tracing.steal_share(before["ticks"], after["ticks"])


def driver_memory() -> str:
    """A quarter of the host's memory, capped at 4 GB: local mode runs every
    task in the driver JVM, but the host is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def stop_spark(spark, graceful: bool = True) -> None:
    """Stop the session, then the JVM it launched, and wait for it. Not
    graceful after a timeout: the JVM is killed, since stop() could wait on
    the stuck work."""
    from pyspark import SparkContext

    if graceful:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if not graceful:
            proc.kill()
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: force it
            proc.kill()
            proc.wait()


def tail(xs: list[float], beyond: int = 10) -> dict | None:
    """The highest percentile with at least ``beyond`` samples above it, or
    None when that would not be above the median."""
    n = len(xs)
    if n <= 2 * beyond:
        return None
    return {"p": (n - beyond) / n, "s": sorted(xs)[n - beyond - 1]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    host_before = host_stamp()
    t0, cpu0 = time.time(), tracing.tree_cpu_s()
    from combobench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    work = os.path.join(
        SCRATCH, f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file Spark, its workers and tempfile write stays in the checkout;
    # no JVM writes its perf-data file to /tmp. JIT compiler threads live as
    # long as the JVM, so the CPU they used stays countable (trace.jit_cpu_s)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = ROOT

    from pyspark import SparkContext

    from elasticsearch_analysis_combo_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tracing.event_log_conf(log_dir))
    t = time.time()
    spark = get_spark("combobench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t
    tr = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
    ctx = workloads.Ctx(spark, tr, work, args.seed, args.seconds, t0, cpu0,
                        SparkContext._gateway.proc.pid)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    except RunTimeout:
        stop_spark(spark, graceful=False)
        raise
    stop_spark(spark)
    signal.alarm(0)
    host_after = host_stamp()

    op_p50 = statistics.median(res.op_s)
    cpu_per_op = sum(res.op_cpu_s) / len(res.op_cpu_s)
    if args.trace:
        tr.job_list = tracing.read_event_log(log_dir)
        values = workloads.layers(tr, res)
        values.update({
            "session.start_s": session_s,
            "trace.op_p50_s": op_p50,
            "trace.cpu_s_per_op": cpu_per_op,
            "host.load1": host_before["load1"],
            "host.calib_ms": host_before["calib_ms"],
            "host.steal_frac": steal_frac(host_before, host_after),
        })
    else:
        values = {"setup_s": res.setup_s, "cpu_s_per_op": cpu_per_op,
                  "index_bytes_per_content_byte":
                      res.named["index_bytes_per_content_byte"]["value"]}
    metrics = {}
    for m in declared:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    failed = len(res.failures)
    res.metric("failed_frac", failed / max(1, res.attempted), "frac", res.attempted)
    tail_s = tail(res.op_s)
    if tail_s:
        res.metric(f"op_p{100 * tail_s['p']:.0f}_s", tail_s["s"], "s", len(res.op_s))
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "driver_memory": conf["spark.driver.memory"],
        "ops": len(res.op_s), "op_s": res.op_s, "op_p50_s": op_p50,
        "items_per_s": res.items / sum(res.op_s),
        "op_cpu_s": res.op_cpu_s, "cpu_s_per_op": cpu_per_op,
        "metrics": res.named, "failures": res.failures[:5], **res.info,
        "host": {"load1": [host_before["load1"], host_after["load1"]],
                 "calib_ms": [host_before["calib_ms"], host_after["calib_ms"]],
                 "steal_frac": steal_frac(host_before, host_after)},
        "wall_s": time.time() - t0,
    }
    results = os.path.join(SCRATCH, "results")
    os.makedirs(results, exist_ok=True)
    other = os.path.join(results, f"{args.workload}-{args.seed}-t{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as f:
            base = json.load(f)
        traced, plain = (detail, base) if args.trace else (base, detail)
        detail["trace_overhead_s"] = traced["op_p50_s"] - plain["op_p50_s"]
        detail["trace_overhead_cpu_s"] = (traced["cpu_s_per_op"]
                                          - plain["cpu_s_per_op"])
    with open(os.path.join(results, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(detail, f)
    shutil.rmtree(work, ignore_errors=True)
    print("combobench detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": res.attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
