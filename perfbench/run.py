"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py) from the root of a checkout in one
driver process on ``local[N]``, N <= the usable CPUs. It warms the
workload up, measures passes for ``--seconds`` seconds, checks the
outputs and prints two JSON lines on stdout: the run's details (machine,
every pass time, steadiness, the check) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones from spans
around the layer calls. Everything the run writes lives in
``.perfbench/`` under the checkout; the run's own directory is removed
at exit, the trace spans stay in ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: warm passes after the cold first one, chosen by the A/B in README.md
WARMUP = {"dedup_roundtrip": 5, "query_mix": 2}
MIN_PASSES = 2
MAX_CPUS = 4
MAX_DRIVER_MB = 3072

END_TO_END = {"setup_s": "s", "pass_s": "s", "live_heap_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_env(run_dir: str) -> dict:
    """Size the session to this machine and keep every scratch file of the
    run (Python and JVM temp files, Spark local dirs) inside ``run_dir``."""
    # one usable CPU is left to the JVM's JIT compiler and GC threads and
    # to the driver, so no task thread waits for them (A/B in README.md)
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0)) - 1))
    mem = mem_total_mb()
    driver_mb = min(MAX_DRIVER_MB, mem // 4)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    return {"nproc": os.cpu_count(), "cpus_used": cpus, "mem_total_mb": mem,
            "driver_mb": driver_mb, "local_dir": local}


def start_session(env: dict, run_dir: str):
    from bensp_suite_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.local.dir": env["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp dir; the heap fixed at its
        # full size and touched at start, so passes neither fault in new
        # heap pages nor regrow a heap the GC before each pass shrank
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Xms{env['driver_mb']}m -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        # bounded job/stage/SQL bookkeeping, so the live heap at the end of
        # a run does not depend on how many passes it made; still enough
        # to hold every job of the traced passes for the spans
        "spark.ui.retainedJobs": "300",
        "spark.ui.retainedStages": "600",
        "spark.sql.ui.retainedExecutions": "100",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first job: class loading, not the workload's
    return spark


def full_gc(spark) -> None:
    """Collect Python garbage first: dead DataFrames in reference cycles
    keep their JVM objects alive through py4j until Python frees them."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def heap_after_gc_mb(spark) -> float:
    """Heap in use at the end of a full GC, once it has settled. Read as
    each heap pool's usage after the collection, not the usage now, which
    counts what the JVM's threads allocated since. A full GC lets Spark's
    ContextCleaner drop the shuffles and broadcasts of collected
    DataFrames, which frees more at the next GC, so collect, half a second
    apart, at least three times and until two readings agree within 1 MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory" and p.getCollectionUsage() is not None]
    readings = []
    while len(readings) < 20:
        full_gc(spark)
        readings.append(sum(p.getCollectionUsage().getUsed() for p in pools) / 1e6)
        if len(readings) >= 3 and abs(readings[-1] - readings[-2]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def measure(args, run_dir: str, details: dict) -> dict:
    import stats
    from spans import Tracer
    from workloads import WORKLOADS

    from bensp_suite_spark.session import has_jvm_kernel

    env = pin_env(run_dir)
    details["env"] = env
    t0 = time.perf_counter()
    spark = start_session(env, run_dir)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    import pyspark

    details["env"].update({
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "has_jvm_kernel": has_jvm_kernel(spark),
    })
    wl = WORKLOADS[args.workload](spark, tracer, os.path.join(run_dir, "work"), args.seed)
    warm_n = WARMUP[args.workload]
    passes = []

    def one_pass(i: int, phase: str):
        # a full GC before every pass, outside its timed window: each pass
        # starts from the same heap state (A/B in README.md)
        full_gc(spark)
        p0 = time.perf_counter()
        with tracer.span("pass"):
            ops = wl.run_pass(i)
        dt = time.perf_counter() - p0
        passes.append({"phase": phase, "s": dt, "ops": ops})
        return dt

    t1 = time.perf_counter()
    wl.setup()
    fixtures_s = time.perf_counter() - t1
    t2 = time.perf_counter()
    for i in range(1 + warm_n):
        one_pass(i, "warmup")
    warmup_s = time.perf_counter() - t2
    setup_s = time.perf_counter() - T_START

    i0 = 1 + warm_n
    if args.trace:
        # traced and untraced passes in groups of four, traced-untraced-
        # untraced-traced, so a drift along the run adds the same to both
        # medians and their ratio is the tracer's cost
        plain, traced, m0 = [], [], time.perf_counter()
        k = 0
        while k % 4 or k == 0 or time.perf_counter() - m0 < args.seconds:
            tracer.enabled = k % 4 in (0, 3)
            (traced if tracer.enabled else plain).append(
                one_pass(i0 + k, "traced" if tracer.enabled else "untraced"))
            k += 1
        tracer.enabled = False
        tracer.attach_stages()
        measured = [p["s"] for p in passes[i0:]]
    else:
        measured, m0 = [], time.perf_counter()
        while len(measured) < MIN_PASSES or time.perf_counter() - m0 < args.seconds:
            measured.append(one_pass(i0 + len(measured), "measured"))
    heap_mb = heap_after_gc_mb(spark)

    ok, msg = wl.check()
    drift = stats.drift(measured)
    steady = stats.is_steady(measured)
    if not steady:
        print(f"perfbench: UNSTEADY, the measured passes still trend ({drift:+.1%} "
              "across the run)", file=sys.stderr)
    details.update({
        "check": msg,
        "passes": passes,
        "steady": steady,
        "drift": drift,
    })
    attempted = sum(len(p["ops"]) for p in passes)
    if not args.trace:
        metrics = {"setup_s": setup_s, "pass_s": stats.median(measured), "live_heap_mb": heap_mb}
        units = END_TO_END
    else:
        n = len(traced)
        roots = [s for s in tracer.spans if s["name"] == "pass"]
        layer = wl.layers(tracer.spans, n)
        pass_s = stats.median(traced)
        layer.update({
            "session.start_s": session_s,
            "fixtures.build_s": fixtures_s,
            "warmup_s": warmup_s,
            "trace.overhead": pass_s / stats.median(plain),
            "trace.coverage": 1 - sum(map(tracer.self_time, roots)) / sum(r["wall_s"] for r in roots),
            "trace.pass_s": pass_s,
        })
        details["trace_file"] = write_spans(tracer, args)
        units = per_layer_units()
        metrics = {k: layer.get(k, 0.0) for k in units}
    result = {
        "correct": bool(ok),
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result


def write_spans(tracer, args) -> str:
    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl")
    tracer.write(path)
    return os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "bensp_suite_spark", "__init__.py")):
        print(f"perfbench: the engine package bensp_suite_spark is not under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    details = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace}
    try:
        result = measure(args, run_dir, details)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench": details}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def stop_spark() -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc  # the JVM exits when its stdin closes
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
