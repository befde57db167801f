"""Benchmark entry point: one seeded, single-client, closed-loop workload.

    python3 perfbench/run.py --workload kcidb_lifecycle --seed 1 \\
        --seconds 12 --trace 0

Run it from the root of a checkout (the directory holding
``kcidb_spark/``).  It generates the workload's inputs from the seed,
starts Spark as ``local[<cores>]`` in this process, sets the workload
up ``SETUPS`` times (the median is ``setup_s``), runs cycles until
``--seconds`` have passed, checks the outputs, and prints one JSON line
last: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Every file it writes lives under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

#: Set-ups per run.  The first starts the JVM; the restarts right after
#: it run on a cold JIT and are slower, so the median needs several.
SETUPS = 5
#: No cycle of any workload is shorter on the hardware measured: a run
#: generates inputs for ``--seconds / MIN_CYCLE_S`` cycles (at least
#: one), and stops early if it uses them all.
MIN_CYCLE_S = 5.0
#: A run that has not finished by then is killed, JVM first, and exits 3.
WATCHDOG_S = 175
WORKLOADS = ("kcidb_lifecycle", "registry_analytics", "serve_lifecycle")
DRIVER_MEMORY = "2g"
END_TO_END = ("setup_s", "calls_per_s", "call_geomean_s", "read_geomean_s",
              "peak_rss_mb")
UNITS = {"setup_s": "s", "calls_per_s": "1/s", "call_geomean_s": "s",
         "read_geomean_s": "s", "peak_rss_mb": "MB"}


def _confine(work: str, cores: int) -> None:
    """Point every scratch location Spark and Python use into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # HotSpot writes its perf-data file under /tmp whatever the tmpdir.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str):
    from kcidb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # A fixed-size, pre-touched heap: G1 otherwise grows it, and
        # touches its pages, by a different amount in every run, and the
        # resident high-water mark moves with it.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp}",
        # Keep every job of a run in the status store for attribution.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    """The session's first job, which every client pays once."""
    spark.range(1000).selectExpr("sum(id)").collect()


def _workload(name: str, work: str, seed: int, cycles: int):
    from perfbench.wl_analytics import RegistryAnalytics
    from perfbench.wl_kcidb import KcidbLifecycle
    from perfbench.wl_serve import ServeLifecycle

    kinds = {w.name: w for w in (KcidbLifecycle, RegistryAnalytics,
                                 ServeLifecycle)}
    return kinds[name](work, seed, cycles)


def _overhead(calls, tracer) -> float:
    """Tracing bookkeeping as a share of the traced calls' wall."""
    wall = sum(calls.walls())
    return tracer.cost / wall if wall else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kcidb_spark", "__init__.py")):
        print("perfbench: no kcidb_spark/ here; run from the root of a"
              " checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    watchdog = threading.Timer(WATCHDOG_S, _expire)
    watchdog.daemon = True
    watchdog.start()
    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    _confine(work, cores)

    from perfbench.harness import Calls
    from perfbench.layers import layer_metrics
    from perfbench.meter import JobMeter, Tracer, jvm_pid, peak_rss_parts_mb

    cycles = max(1, math.floor(args.seconds / MIN_CYCLE_S))
    wl = _workload(args.workload, work, args.seed, cycles)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    setups = []
    spark = None
    for attempt in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _session(work)
        _warm(spark)
        wl.init(spark, attempt)
        setups.append(time.perf_counter() - t0)

    meter = JobMeter(spark)
    tracer = Tracer(meter) if args.trace else None
    calls = Calls(tracer)
    undo = None
    errors: list[str] = []
    prepare_s = check_s = 0.0
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        if tracer and hasattr(wl, "instrument"):
            undo = wl.instrument(calls, tracer)
        deadline = time.perf_counter() + args.seconds
        loop_start = time.perf_counter()
        cycle = 0
        while cycle < wl.cycles and time.perf_counter() < deadline:
            calls.cycle = cycle
            wl.cycle(cycle, calls)
            cycle += 1
        wl.finish(calls)
        loop_s = time.perf_counter() - loop_start
        t0 = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 — any failure is a failed operation
        traceback.print_exc(file=sys.stderr)
        errors.append("exception: " + traceback.format_exc(limit=1).strip())
        loop_s = 0.0
    finally:
        if undo:
            undo()
    attempted = len(calls.records) + 1   # + the end-of-run check
    failed = len(errors)
    attempted = max(attempted, failed)
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    rss = peak_rss_parts_mb(jvm_pid(spark))
    walls = calls.walls()
    reads = calls.walls(read=True)
    e2e = {
        "setup_s": statistics.median(setups),
        "calls_per_s": len(walls) / sum(walls) if walls else 0.0,
        "call_geomean_s": statistics.geometric_mean(walls) if walls else 0.0,
        "read_geomean_s": statistics.geometric_mean(reads) if reads else 0.0,
        "peak_rss_mb": sum(rss),
    }
    if args.trace:
        meter.drain()
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in
                   layer_metrics(tracer, wl.store_metrics() if hasattr(
                       wl, "store_metrics") else {}, cores,
                       _overhead(calls, tracer),
                       e2e["call_geomean_s"]).items()}
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            for rec in tracer.records():
                f.write(json.dumps(rec) + "\n")
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}

    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "gen_s": gen_s, "setups_s": setups, "prepare_s": prepare_s,
        "loop_s": loop_s, "check_s": check_s,
        "error_rate": failed / attempted, "rss_py_jvm_mb": rss,
        **wl.summary(calls),
        "calls": [[c.kind, c.wall] for c in calls.records],
        **{k: e2e[k] for k in END_TO_END},
    }
    print("perfbench summary " + json.dumps(summary, default=str))

    _shutdown(spark)
    watchdog.cancel()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_on_disk")):
        return "B"
    if name.endswith(("_share", "_eff", "_per_input_byte", "_per_candidate")):
        return "ratio"
    return "count"


def _expire() -> None:
    """Watchdog: kill the JVM (if one was started) and exit non-zero."""
    from pyspark import SparkContext

    print(f"perfbench: no result after {WATCHDOG_S} s", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
