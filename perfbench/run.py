"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_star|catalog_mix --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one client, one
`local[<cores>]` session through `sri_spark.session.get_spark`, with the
driver heap sized from host RAM. A separate harness process makes the
inputs from the seed and the expected outputs (untimed). Then the run sets
up: it launches the JVM, starts the session and runs one warm-up pass;
that whole span is `setup_s`. Timed passes follow until `--seconds` have
been measured. Every operation's output is checked in the harness process.

`--trace 0` prints the end-to-end metrics; `--trace 1` alternates untraced
and traced passes, prints the per-layer metrics, and writes the spans to
perfbench/.work/traces/. The last stdout line is the result JSON; the line
before it is a report with the host shape and workload-specific names.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, layers  # noqa: E402
from perfbench.stats import Outcomes, median, pass_samples, tail  # noqa: E402

APP_NAME = "perfbench"
SF_DIR = os.path.join(HERE, "data", "sf0.01")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def heap_gib(ram_bytes: int) -> int:
    """A quarter of host RAM, between 1 and 8 GiB: room for the Python
    process, the OS page cache and the off-heap shuffle buffers."""
    return max(1, min(8, ram_bytes // 4 // 2**30))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("etl_star", "catalog_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # without the program there is nothing to measure: fail before any
    # process starts
    import sri_spark.session  # noqa: F401

    work =os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores, ram = host_cores(), host_ram_bytes()
    heap = heap_gib(ram)
    # everything Spark and Python spill or stage stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    harness = checks.Harness()
    try:
        result, report = _run(args, work, cores, ram, heap, harness)
    finally:
        _stop_spark()
        harness.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def _run(args, work: str, cores: int, ram: int, heap: int, harness):
    from sri_spark.session import get_spark

    from perfbench.probe import SparkProbe
    from perfbench.trace import NoTrace, Tracer
    from perfbench.workloads import CatalogMix, EtlStar

    phases = {}  # wall of each stage of the run, for budgeting
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    if args.workload == "etl_star":
        wl = EtlStar(work, args.seed)
    else:
        wl = CatalogMix(args.seed, SF_DIR)
    wl.prepare(harness)
    phase("prepare")

    outcomes = Outcomes()
    errors: set[str] = set()
    untraced = NoTrace()

    def check(res):
        wl.check(res, harness)
        for op in res.ops:
            outcomes.record(op.ok)
            if not op.ok:
                errors.add(f"{op.name}: {op.error}")

    # set-up: JVM launch, session start, and a warm-up pass that fills the
    # JIT, codegen and file caches
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    t0 = time.perf_counter()
    spark = get_spark(APP_NAME, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    warm = wl.warm_up(spark, untraced)
    setup_s = time.perf_counter() - t0
    phase("setup")
    check(warm)

    tracer = Tracer(SparkProbe(spark)) if args.trace else None
    if tracer is not None:
        wl.trace_extras(spark, tracer)
        extras = list(tracer.spans)
    plain, traced = [], []  # PassResult; (PassResult, spans of the pass)
    t_start = time.perf_counter()
    while True:
        use_trace = tracer is not None and len(traced) < len(plain)
        first = len(tracer.spans) if use_trace else 0
        res = wl.run_pass(spark, tracer if use_trace else untraced)
        check(res)
        if use_trace:
            traced.append((res, tracer.spans[first:]))
        else:
            plain.append(res)
        measured = time.perf_counter() - t_start
        if measured >= args.seconds and (tracer is None or traced):
            break
    phase("measure")

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds_measured": measured,
        "phases_s": phases,
        "host": _host_shape(spark, cores, ram, heap),
        "passes": len(plain),
        "traced_passes": len(traced),
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "failed_frac": outcomes.failed_frac,
        "errors": sorted(errors)[:10],
        "session_start_s": get_spark_s,
        "warm_up_s": setup_s - get_spark_s,
        "rss_mb": _peak_rss_mb(),
        "harness_rss_mb": harness.call(checks.peak_rss_mb),
    }
    rss = report["rss_mb"]["python"] + report["rss_mb"]["jvm"]
    e2e = _end_to_end(args.workload, setup_s, plain, rss, report)
    if tracer is None:
        metrics = e2e
    else:
        metrics = layers.per_layer(wl, get_spark_s, extras, traced, plain, cores)
        path = layers.write_trace(HERE, args.workload, args.seed, tracer, metrics, report)
        report["trace_file"] = os.path.relpath(path, ROOT)
    result = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": metrics,
    }
    return result, report


def _end_to_end(workload: str, setup_s: float, passes, rss_mb: float, report: dict) -> dict:
    """The contract's end-to-end metrics, plus the workload's own names for
    them in the report. `job_s` is the ETL job on etl_star and the pass
    over the mix on catalog_mix; `op_*` are the read statements on
    etl_star and the queries on catalog_mix."""
    jobs, lat = pass_samples(passes, "etl_job" if workload == "etl_star" else None)
    t = tail(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_s": (median(jobs), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (t.value, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    report["op_latency_s"] = {
        name: median([op.latency_s for p in passes for op in p.ops if op.name == name])
        for name in dict.fromkeys(op.name for p in passes for op in p.ops)
    }
    report["op_samples"] = t.n
    report["op_tail_pct"] = t.pct
    if workload == "etl_star":
        names = ("etl_job_s", "star_stmt_p50_s", f"star_stmt_p{t.pct}_s")
        report["star_pass_s"] = median([p.wall_s - p.ops[0].latency_s for p in passes])
    else:
        names = ("catalog_pass_s", "query_p50_s", f"query_p{t.pct}_s")
    for alias, key in zip(names, ("job_s", "op_p50_s", "op_tail_s")):
        report[alias] = e2e[key][0]
    return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}


def _peak_rss_mb() -> dict[str, float]:
    """Peak resident memory of this Python process and of the driver JVM."""
    from pyspark import SparkContext

    jvm_kib = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kib = int(line.split()[1])
    python_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"python": python_kib / 1024.0, "jvm": jvm_kib / 1024.0}


def _host_shape(spark, cores: int, ram: int, heap: int) -> dict:
    return {
        "cores": cores,
        "ram_gib": round(ram / 2**30, 2),
        "heap": f"{heap}g",
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
    }


def _stop_spark() -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
