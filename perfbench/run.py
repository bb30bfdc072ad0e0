"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload analyst_mix --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench_scratch/`` in the current directory, starts a
Spark session on ``local[<cores>]``, sets up, issues requests for
``--seconds``, checks the outputs against the oracles, deletes its
scratch directory and prints every metric by name with its unit. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run is
traced and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_nightly", "analyst_mix", "dedup_serving")
# Scale factor of the generated inputs per workload (lineitem holds
# about 6e6 * sf rows; the document corpus 5e4 * sf docs).
SCALE = {"etl_nightly": 0.01, "analyst_mix": 0.01, "dedup_serving": 0.05}
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's input scale factor")
    return p.parse_args(argv)


def start_session(scratch: str, cores: int, event_log: str | None):
    from pudl_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} "
            f"-Dderby.system.home={os.path.join(scratch, 'derby')} "
            "-XX:-UsePerfData",          # no /tmp/hsperfdata_<user>
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()               # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [ROOT, HERE]
    import workloads as W
    from tracing import EngineView, NullTracer, Tracer, read_event_log

    scratch = os.path.join(os.getcwd(), ".perfbench_scratch",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(scratch, d))
        # Every file the engine, the JVM and Python write goes under the
        # run's scratch directory, which is deleted at the end.
        os.environ.update({"TMPDIR": os.path.join(scratch, "tmp"),
                           "SPARK_LOCAL_DIRS": os.path.join(scratch,
                                                            "local")})
        import tempfile
        tempfile.tempdir = None          # re-read TMPDIR
        t0 = time.perf_counter()
        spark = start_session(scratch, cores, os.path.join(
            scratch, "eventlog") if args.trace else None)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark.range(1 << 16).selectExpr("sum(id)").collect()
        warm_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        sf = args.sf if args.sf is not None else SCALE[args.workload]
        r = W.Run(spark, scratch, args.seed, args.seconds, tracer, cores,
                  sf)
        if args.trace:
            import layers
            layers.install(tracer)
        try:
            out = getattr(W, args.workload)(r)
        finally:
            tracer.unpatch()
            W.drop_tables(spark)
        stop_session(spark)
        spark = None
        lat = out["latencies"]
        if not lat:
            raise RuntimeError("no request completed")
        pct, tail = W.percentile_with_10_beyond(lat)
        e2e = {
            "setup_s": (start_s + warm_s + out["setup_extra_s"], "s"),
            "p50_s": (statistics.median(lat), "s"),
            "throughput": (out["throughput"], "1/s"),
            "bytes_per_row": (out["bytes_per_row"], "B/row"),
        }
        info = {"workload": args.workload, "seed": args.seed, "sf": sf,
                "cores": cores, "samples": len(lat),
                "latencies_s": [round(x, 3) for x in lat],
                "tail": f"p{pct:.1f} = {tail:.4f} s",
                "session_start_s": round(start_s, 3),
                "session_warmup_s": round(warm_s, 3),
                "oracle_s": round(r.oracle_s, 3), **out["notes"]}
        if args.trace:
            import layers
            jobs, tasks = read_event_log(os.path.join(scratch, "eventlog"))
            view = EngineView(tracer, jobs, tasks)
            metrics = layers.per_layer(tracer, view, r, out,
                                       start_s, warm_s, e2e)
        else:
            metrics = e2e
        return {"run": r, "info": info, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind so the session stops and the scratch is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run(args)
    r = res["run"]
    for t, (rows, nbytes) in sorted(r.inputs.items()):
        print(f"input {t}: rows={rows} bytes={nbytes}")
    for k, v in res["info"].items():
        print(f"info {k}: {v}")
    for e in r.errors:
        print(f"error {e}")
    print(f"ops.failed_frac: {r.failed / max(r.attempted, 1):.6f} "
          f"({r.failed} of {r.attempted})")
    for k, (v, unit) in res["metrics"].items():
        print(f"metric {k}: {v:.6g} {unit}")
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
