"""Repository benchmark: one workload, one seed, one run.

Usage, from the repository root::

    python3 perfbench/run.py --workload json_docs --seed 1 --seconds 6 --trace 0

Starts one Spark driver sized for the host (``local[nproc]``), builds
the workload's inputs from ``--seed``, warms up, then runs operations
back to back (one client, closed loop) for ``--seconds`` and checks
every output against the generator's labels.  The last line of stdout
is the result as JSON: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics), after a human-readable table with the host facts.
The full report (set-up breakdown, wall and CPU seconds of every
operation, and when traced the layer map) and the span dump go to
``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

# Throughput is counted per CPU-second (see cpu_seconds), not per wall
# second: on a shared 4-vCPU host the wall time of the same operation
# moves by a third between quiet and busy minutes, its CPU time by a
# few percent.  Wall figures are per-layer metrics of the traced run.
END_TO_END = {
    "items_per_cpu_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def host_facts() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": cores,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def driver_heap_gb(mem_total_gb: float) -> int:
    """An eighth of RAM, 1..2 GB: the rest stays for Python, the OS page
    cache and whatever else shares the host.  The heap is fixed
    (``-Xms`` = ``-Xmx``) so that the driver's peak RSS does not follow
    the collector's sizing decisions from run to run."""
    return max(1, min(2, round(mem_total_gb / 8)))


def start_session(work: str, host: dict, events: str | None):
    from pyspark.sql import SparkSession

    cores = host["nproc"]
    heap = driver_heap_gb(host["mem_total_gb"])
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}g")
        # compiler threads live as long as the JVM, so that cpu_seconds
        # can leave their time out
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}g -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if events:
        os.makedirs(events, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + events)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return total_kb / 1024.0


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by this Python process and by the driver
    JVM, whose threads run the local executors, less the JVM's JIT
    compiler threads: how much compiling an operation meets varies
    from run to run and fades as the run goes on."""
    ticks = _ticks(f"/proc/{os.getpid()}/stat") + _ticks(f"/proc/{jvm_pid}/stat")
    tasks = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(tasks):
        try:
            with open(f"{tasks}/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    ticks -= _ticks(f"{tasks}/{tid}/stat")
        except FileNotFoundError:  # the thread has exited
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, root: str, work: str, out_dir: str) -> tuple[dict, dict]:
    """Run the workload; returns (result line, report)."""
    from pyspark import SparkContext

    import layers
    import spans
    from workloads import WORKLOADS

    host = host_facts()
    events = os.path.join(work, "events") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(work, host, events)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    host.update(spark=spark.version, java=sc._jvm.System.getProperty("java.version"))

    wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, host["nproc"])
    # inputs are generated once per run: setup_s is compared as a median
    # over runs, and a second generation would lengthen every run by a tenth
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    setup_s = session_s + gen_s + warm_s

    tracer = spans.Tracer(sc) if args.trace else None
    lat, cpu, rates, traced_ops, problems = [], [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    i = 0
    while True:
        # stop before an operation that would end past the deadline
        left = args.seconds - (time.perf_counter() - t_start)
        enough = len(lat) >= wl.min_ops and left < statistics.median(lat)
        if enough and (tracer is None or traced_ops):
            break
        if left < -2 * args.seconds - 30:  # operations keep failing: give up
            break
        # a traced run alternates plain and traced operations
        traced = tracer is not None and i % 2 == 1
        wl.prepare()
        if traced:
            tracer.op = i
            spans.instrument(tracer)
        elif tracer is not None:
            tracer.plain()
        attempted += 1
        start = time.time()
        c = cpu_seconds(jvm_pid)
        t = time.perf_counter()
        try:
            out = wl.op(tracer if traced else None)
        except Exception:
            failed += 1
            problems.append(f"op {i}: " + traceback.format_exc(limit=3))
            out = None
        finally:
            dt = time.perf_counter() - t
            dc = cpu_seconds(jvm_pid) - c
            end = time.time()
            if traced:
                tracer.unpatch()
        if out is not None:
            if tracer is not None:
                sc.setJobGroup("check", "check")
            try:
                wrong = wl.check(out)
            except Exception:
                wrong = ["checking the output failed: " + traceback.format_exc(limit=3)]
            if wrong:
                failed += 1
                problems.append(f"op {i}: " + "; ".join(wrong))
            elif traced:
                traced_ops.append({"op": i, "start": start, "end": end, "wall": dt,
                                   **wl.traced_extra(tracer)})
            else:
                lat.append(dt)
                cpu.append(dc)
                rates.append(wl.items / dc)
        i += 1

    rss = peak_rss_mb([os.getpid(), jvm_pid])
    stop_session(spark)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "items_per_op": wl.items,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warm_s": warm_s},
        "op_s": lat, "op_cpu_s": cpu, "problems": problems,
    }
    metrics, units = {}, END_TO_END
    if lat:
        metrics = {
            "items_per_cpu_s": statistics.median(rates),
            "setup_s": setup_s,
            "peak_rss_mb": rss,
        }
    if tracer is not None and traced_ops and lat:
        jobs = spans.read_event_log(events)
        metrics = layers.per_layer(wl, tracer, jobs, traced_ops, lat)
        units = {k: v[0] for k, v in layers.PER_LAYER.items()}
        report["layer_map"] = {k: {"moves": v[2], "workloads": v[3]}
                               for k, v in layers.PER_LAYER.items()}
        report["traced_ops"] = traced_ops
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    ok = failed == 0 and set(metrics) == set(units)
    result = {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    return result, report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jsonschema_spark", "__init__.py")):
        print("perfbench: run from the repository root (jsonschema_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".bench_out")
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # keep every temporary file of Python, py4j and the JVMs (the Spark
    # launcher's too) in the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # few malloc arenas: the JVM's native memory, and so its peak RSS,
    # stops depending on how many threads happened to allocate at once
    os.environ["MALLOC_ARENA_MAX"] = "2"
    try:
        result, report = measure(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    name = f"result-{args.workload}-{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"result": result, "report": report}, f, indent=1)
    h = report["host"]
    print(f"# {args.workload} seed={args.seed} host: nproc={h['nproc']} mem={h['mem_total_gb']}GB "
          f"spark={h['spark']} java={h['java']} python={h['python']}")
    for k, v in result["metrics"].items():
        print(f"{k:32s} {v['value']:>16.6g} {v['unit']}")
    for line in report["problems"]:
        print("FAILED " + line.replace("\n", " | "), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
