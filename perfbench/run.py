"""Benchmark of the engine's north-rule path on one local Spark session.

    python3 perfbench/run.py --workload query_loaded --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout. Builds nothing: the program is imported
from ``miru_spark/`` beside this directory. Every file the run writes goes
under ``.perfbench_work/`` in the checkout (Spark local dirs, the JVM's
temporary files, the corpus, the index, and with ``--trace 1`` the event
log and the span file).

Output: a table of every metric with its unit and sample count, a line
``details {...}`` with the input fingerprint, sizes and host-fit settings,
and as the last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A failed or wrong
operation counts in ``failed`` and is printed to stderr; the run still
exits 0 so the failure is reported rather than hidden.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_loaded", "repair_mixed")
DRIVER_MEM = "2g"  # the repo default (16g) does not fit a 15 GB host


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_info(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "heap_pretouch": "off",
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "miru_spark")):
        print(f"perfbench: no miru_spark/ package beside {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "duckdb", "events"):
        os.makedirs(os.path.join(work, sub))
    # host fit: local[nproc], a heap that fits the host, no heap pre-touch;
    # everything the JVM, Spark and the workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts: temp files in the checkout, and no
    # hsperfdata file (HotSpot always puts that under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for var in ("SPARK_GRAFT_PREALLOC", "SPARK_GRAFT_MASTER"):
        os.environ.pop(var, None)
    sys.path.insert(0, ROOT)

    import eventlog
    import metrics
    import workloads
    from procstat import EngineCpu, RssSampler
    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    tr = Tracer(enabled=bool(args.trace))
    steal0 = steal_s()
    spark = None
    try:
        with tr.span("run") as root:
            with tr.span("setup"):
                with tr.span("session.start"):
                    from miru_spark.session import get_spark

                    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
                tr.attach(spark.sparkContext)
                jvm_pid = spark.sparkContext._gateway.proc.pid
                rss = RssSampler(jvm_pid)
                rss.start()
                host = host_info(spark)
                run = workloads.Run(args.workload, args.seed, args.seconds, spark, tr, work,
                                    EngineCpu(jvm_pid))
                idx = workloads.setup(run)
            with tr.span("measure"):
                workloads.measure(run, idx, time.perf_counter)
            with tr.span("check"):
                workloads.check(run)
            peak_rss = rss.stop()
            tr.detach()
            with tr.span("session.stop"):
                stop_spark(spark)
                spark = None
    finally:
        if spark is not None:  # a set-up step raised: still stop the JVM
            tr.detach()
            stop_spark(spark)

    e2e = metrics.end_to_end(run, peak_rss)
    if args.trace:
        logs = glob.glob(os.path.join(work, "events", "*"))
        layer = metrics.per_layer(run, cores, eventlog.parse(logs[0]), root.dur)
        tr.dump(os.path.join(work, "spans.json"))
        shown, result = {**e2e, **layer}, layer
    else:
        shown, result = e2e, e2e
    # a traced run keeps its span file and event log; nothing else stays
    for name in os.listdir(work):
        if not (args.trace and name in ("spans.json", "events")):
            path = os.path.join(work, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    if not args.trace:
        os.rmdir(work)

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input": run.input_fp,
        "index_bytes": run.index_bytes,
        "postings": run.n_postings,
        "memo": run.memo,
        "host": host,
        "rss_mb": {"jvm_hwm": round(rss.jvm_hwm / 2**20, 1), "workers": round(rss.peak / 2**20, 1)},
        "wall_s": round(root.dur, 3),
        "steal_s": round(steal_s() - steal0, 2),
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "faults": run.faults,
    }
    print(f"{'metric':44s} {'value':>14s} {'unit':8s} samples")
    for name, m in shown.items():
        print(f"{name:44s} {m['value']:14.4f} {m['unit']:8s} {m['n']}")
    print("details " + json.dumps(details, sort_keys=True))
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in result.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
