"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload event_store --seed 1 --seconds 4 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The full
record of the run (samples, per-query figures and, when traced, every span)
goes to ``perfbench/results/<workload>-seed<seed>-trace<trace>.json``.

Works from any working directory.  Stores, Spark's local and temp files,
``spark-warehouse`` and ``derby.log`` live in a temporary directory in the
checkout that is removed when the run ends; the Spark JVM is stopped and
waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# local[N]: one process, at most two Spark task threads.
SPARK_THREADS = 2


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="path of the detail file")
    ap.add_argument("--tables", help="directory of the analytics tables (default: the "
                    "committed sf0.01 copy); for comparing with another scale factor")
    args = ap.parse_args(argv)
    if args.tables:  # the run changes directory before it reads them
        args.tables = os.path.abspath(args.tables)
    return args


def _isolate(workdir: str) -> None:
    """Point every file Spark, Derby and the Python workers write into
    ``workdir`` and make the package importable by Spark's Python workers."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(workdir)


def _start_spark(workdir: str):
    from fstore_sql_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{SPARK_THREADS}]",
        shuffle_partitions=SPARK_THREADS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            # a fixed-size heap, so the JVM's resident memory does not
            # depend on when the collector decides to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -Djava.io.tmpdir={workdir}/tmp -Dderby.system.home={workdir}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _delta_bytes(rec, args, version) -> None:
    storage, table = args[0], args[1]
    path = os.path.join(storage._state_dir(table), f"v{version:08d}.delta.arrow")
    if os.path.exists(path):
        rec["bytes"] = os.path.getsize(path)


def _trace(spark):
    from fstore_sql_spark.hwm import ShardedHwm
    from fstore_sql_spark.ledger import ShardedLocksLedger
    from fstore_sql_spark.storage import ParquetStore
    from fstore_sql_spark.store import EventStore
    from perfbench.trace import SparkCounters, Tracer

    tracer = Tracer()
    tracer.wrap_class(EventStore, "store")
    tracer.wrap_class(ShardedLocksLedger, "ledger")
    tracer.wrap_class(ShardedHwm, "hwm")
    tracer.wrap_class(ParquetStore, "storage", hooks={"write_state_delta": _delta_bytes})
    return tracer, SparkCounters(spark)


def _run(args, workdir: str) -> tuple[object, dict]:
    _isolate(workdir)
    from perfbench import workloads
    from perfbench.stats import self_times

    spark, start_s = _start_spark(workdir)
    try:
        tracer = counters = None
        if args.trace:
            tracer, counters = _trace(spark)
        run = workloads.Run(spark, workdir, args.seed, args.seconds, tracer, counters,
                            session_start_s=start_s,
                            tables=args.tables or workloads.ANALYTICS_TABLES_DIR)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            if tracer is not None:
                tracer.unwrap()
        mem = workloads.memory_mb()
        run.detail["memory"] = mem
        run.e2e["peak_rss_mb"] = mem["python_hwm_mb"] + mem["jvm_hwm_mb"]
        if tracer is not None:
            measured = [s for s in tracer.spans if s.get("phase") == "measure"]
            cost = tracer.calibrate()
            window = sum(s["end"] - s["start"] for s in measured if s["parent"] is None)
            overhead = cost * len(measured) + counters.bookkeeping_s
            run.layers.update({
                "session.start_s": start_s,
                "trace.spans": len(measured),
                "trace.span_cost_s": cost,
                "trace.overhead_s": overhead,
                "trace.overhead_share": overhead / window if window else 0.0,
                "trace.op_p50_s": run.e2e["op_p50_s"],
            })
    finally:
        _stop_spark(spark)
    config = {
        "nproc": os.cpu_count(), "master": f"local[{SPARK_THREADS}]",
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sizes": {k: getattr(workloads, k) for k in (
            "CMD_STREAMS", "CMD_STREAM_LEN", "PIPE_STREAMS", "PIPE_BATCH", "PIPE_LIMIT",
            "ANALYTICS_TABLES_DIR", "REOPENS", "ROUND_TAIL_N", "LAG_TAIL_N")},
    }
    detail = {"workload": args.workload, "config": config, "session_start_s": start_s,
              "e2e": run.e2e, "layers": run.layers, "attempted": run.attempted,
              "failed": run.failed, "problems": run.problems, **run.detail}
    if run.tracer is not None:
        own = self_times(run.tracer.spans)
        detail["spans"] = [{**s, "self": own[s["id"]]} for s in run.tracer.spans]
    return run, detail


def main(argv=None) -> int:
    args = _args(argv)
    # on SIGTERM, unwind so the JVM is stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "fstore_sql_spark", "__init__.py")):
        print("perfbench: no fstore_sql_spark package next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    workdir = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        run, detail = _run(args, workdir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:  # a layer the workload does not touch reports 0
        metrics = {m["name"]: (run.layers.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (run.e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    path = args.detail or os.path.join(
        HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for msg in run.problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": {k: {"value": float(v), "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
