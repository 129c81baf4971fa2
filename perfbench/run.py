"""spectraspark benchmark: one workload, one seed, one JSON result.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload ledger_ingest --seed 1 --seconds 25 --trace 0

Each workload runs a fixed amount of work, so its tables reach the same
size on every run; ``--seconds`` is accepted and checked, but does not
change how much work is timed. The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end figures; with
``--trace 1`` they are the per-layer figures, and the spans are written
to ``.perfbench_work/traces/``. The line before it records the host
(cores, RAM, Python, PySpark and Java versions); a traced run adds a line
with its own end-to-end figures, for the tracing overhead.

Every run starts from empty tables in its own directory under
``.perfbench_work/`` and removes them when it ends. Spark's scratch space,
temporary files and warehouse live there too, so the run writes nothing
outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {  # name -> unit, in BENCHMARK.json order
    "setup_s": "s",
    "read_s.p50": "s",
    "read_s.p75": "s",
    "work_s.p50": "s",
}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward the set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(work: str) -> dict:
    """Size the session to this host from outside the package, and keep
    every scratch file inside the run's directory."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = _host_ram_gb()
    driver_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"cores": cores, "ram_gb": round(ram_gb, 1), "driver_memory": f"{driver_gb}g"}


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share of time the hypervisor
    gave to other guests, which slows every figure of a run alike."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted; the work per run is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started_s = _process_age_s()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "spectraplex_spark", "__init__.py")):
        print(
            f"perfbench: no spectraplex_spark package under {root}; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(work)
    try:
        return _run(args, run_id, base, work, started_s)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Stop the session and the JVM PySpark launched, and wait for the JVM
    (and the Python workers it forked) to exit."""
    if "pyspark" not in sys.modules:
        return
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, run_id: str, base: str, work: str, started_s: float) -> int:
    host = pin_host(work)  # before anything imports pyspark
    steal0 = cpu_steal()

    import workloads
    from stats import median, percentile
    from tracing import Tracer

    tracer = Tracer(bool(args.trace), run_id)

    # the set-up: process start to a ready session, on a cold JVM
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from spectraplex_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a heap committed in full from the start: G1 growing it
            # mid-run, at a moment that differs from run to run, is noise
            "spark.driver.extraJavaOptions": f"-Xms{host['driver_memory']}",
        })
    t1 = time.perf_counter()
    tracer.spark = spark
    with tracer.span("session.warmup"):
        warm = workloads.warm_up(spark, tracer, args.seed, os.path.join(work, "warm"))
    t2 = time.perf_counter()
    setup_s = started_s + t2 - t0

    host.update(
        python=platform.python_version(),
        pyspark=spark.version,
        java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        spark_master=spark.sparkContext.master,
    )
    ops = workloads.Ops()
    ctx = workloads.Ctx(spark, tracer, args.seed, work, ops, warm)
    with tracer.span(args.workload):
        res = workloads.WORKLOADS[args.workload](ctx)
    res.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)

    print(
        f"perfbench: set-up {setup_s:.2f} s, units {[round(x, 2) for x in res.work_s]} s, "
        f"{len(res.reader.latency)} reads",
        file=sys.stderr,
    )
    e2e = {
        "setup_s": setup_s,
        "read_s.p50": median(res.reader.latency),
        "read_s.p75": percentile(res.reader.latency, 75),
        "work_s.p50": median(res.work_s),
    }
    steal1 = cpu_steal()
    host["cpu_steal_share"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)
    print(json.dumps({"host": host, "run_id": run_id, "samples": {
        "reads": len(res.reader.latency), "work_units": len(res.work_s)}}))
    for f in ops.failures[:20]:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    if args.trace:
        import layers

        print(json.dumps({"end_to_end_traced": e2e}))
        metrics = layers.per_layer(
            tracer.spans, res.layer, res.reader.late, t1 - t0, t2 - t1, host["cores"]
        )
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", f"{run_id}.jsonl"))
        out = {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
