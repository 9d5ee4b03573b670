"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics (see perfbench/README.md). The last
line of standard output is ``{"correct", "attempted", "failed", "metrics"}``.
The process exits non-zero when any operation failed or returned a wrong
result, or when the engine package is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ocel_ocpn_lakehouse_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["maintain", "mutate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="row-count multiplier for every generated input (1 = benchmark size)")
    p.add_argument("--check-fault", action="store_true",
                   help="corrupt one expected value, so the correctness gate must fire")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def window_shares(t0: list[int], t1: list[int]) -> dict:
    """Busy and hypervisor-steal shares of the CPU ticks between two readings."""
    d = [b - a for a, b in zip(t0, t1)]
    total = max(sum(d), 1)
    return {"run_busy_frac": round(1 - (d[3] + d[4]) / total, 3),
            "run_steal_frac": round(d[7] / total, 3) if len(d) > 7 else None}


def host_stamp(cpus: int) -> dict:
    """Same-run host window: busy share and the CPU / memcpy scaling ceilings
    from 1 to ``cpus`` workers. Recorded beside the metrics, never gated on."""
    from tools.scaling_bench import calibrate, host_busy_fraction

    busy = host_busy_fraction(0.5)
    cal = calibrate(1, cpus, secs=0.5) if cpus > 1 else {}
    return {
        "busy_frac": round(busy, 3),
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "cpu_ceiling_eff": cal.get("ceiling_efficiency"),
        "memcpy_ceiling_eff": cal.get("copy_ceiling_efficiency"),
        "memcpy_gbps": cal.get("copy_gbps_large"),
    }


def start_spark(work: str, cpus: int, trace: bool):
    from ocel_ocpn_lakehouse_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work} -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
        os.makedirs(extra["spark.eventLog.dir"], exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, int]:
    from workloads import WORKLOADS, Ledger
    from metrics import end_to_end, op_secs, per_layer
    from layers import Tracer

    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        t_run = time.perf_counter()
        ticks = cpu_ticks()
        host = host_stamp(cpus)
        log(f"host stamp {host}")
        spark, session_s = start_spark(work, cpus, bool(args.trace))
        log(f"spark up in {session_s:.1f}s")
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, cpus)
        setup_s = []
        for k in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup(k)
            setup_s.append(time.perf_counter() - t0)
        tracer = Tracer() if args.trace else None
        led = Ledger(spark, tracer)
        once_s = wl.start(led)
        if args.check_fault:
            wl.inject_fault()
        log("set-up " + ", ".join(f"{s:.2f}s" for s in setup_s) + f" + {once_s:.2f}s once")
        deadline = time.perf_counter() + args.seconds
        # whole rounds only; a traced run alternates untraced (even) and
        # traced (odd) rounds and runs at least one of each
        while led.round < wl.max_rounds and (
            led.round < 1 + args.trace or time.perf_counter() < deadline
        ):
            led.traced = bool(args.trace) and led.round % 2 == 1
            if led.traced:
                tracer.install(led.round)
            try:
                wl.run_round(led)
            finally:
                if led.traced:
                    tracer.uninstall()
            led.round += 1
            log(f"round {led.round} done at {time.perf_counter() - t_run:.1f}s")
        led.traced = False
        host.update(window_shares(ticks, cpu_ticks()))
        wl.final_check(led)

        stop_spark(spark)
        spark = None
        metrics = end_to_end(wl, led, setup_s, once_s)
        if args.trace:
            metrics = per_layer(wl, led, tracer, os.path.join(work, "events"), cpus,
                                session_s)
        log(f"finished at {time.perf_counter() - t_run:.1f}s; per-op medians " + ", ".join(
            f"{c}={statistics.median(x):.3f}s x{len(x)}"
            for c, x in sorted(op_secs(led).items())))
        attempted = len(led.ops)
        failed = sum(1 for o in led.ops if not o["ok"])
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "scale": args.scale, "rounds": led.round,
                  "host": host, "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
                  "attempted": attempted, "failed": failed, "metrics": metrics}
        return record, failed
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    record, failed = run(args)
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"host": record["host"], "rounds": record["rounds"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
