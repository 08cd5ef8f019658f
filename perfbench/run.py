"""spapy_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload tile_count --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up (session start, input generation,
warm-up) is untimed for the throughput metrics and reported as
``setup_s``; then the workload's operation runs back to back for
``--seconds`` and every output is checked against an independent oracle.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics of BENCHMARK.json); the lines before it print every
metric with its unit and the fail ratio.  Times are wall times less the
CPU time the VM's host stole (``telemetry.Stopwatch``).

The traced run measures the loop twice in one process: first untraced,
then in a restarted Spark context with the event log on and the job
group tagged, so the engine counters cover exactly the timed operations;
the throughput gap between the halves is the tracing overhead.  Its spans
go to ``.perfbench_work/<run id>.trace.json``.  All scratch files stay
under ``.perfbench_work/`` in the checkout.

On every way out, SIGTERM included, the run stops Spark and the JVM and
waits until no process it started is left: it is the child subreaper of
its process tree, so Python workers the JVM leaves behind are its to reap.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spapy_spark.session import get_spark  # noqa: E402

import telemetry  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS, dir_bytes  # noqa: E402

# input generation is repeated and its median kept, so setup_s is steady
GEN_REPS = 3
# operations run before timing starts (JIT, Python workers, caches); the
# next one can still be slower, which the median over the loop absorbs
WARM_OPS = 1
MEASURE_GROUP = "perfbench-measure"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def start_session(cores: int, work: str, event_log: str | None = None):
    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.driver.memory": "2g",
        # no hsperfdata file: HotSpot would put it in /tmp, outside the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process the child subreaper of its tree: a process
    orphaned below it (the Python worker daemons, when the JVM exits
    before them) is re-parented to it instead of to init, so
    ``reap_children`` can wait for it before the benchmark exits.
    Without it only the JVM, a direct child, is waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(ctypes.get_errno())}",
              file=sys.stderr)


def stop_spark() -> None:
    """Stop the active Spark context (which flushes the event log), then
    the JVM, and wait for the JVM to end.  A no-op without a JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = gateway.proc
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left, reaping each one that
    ends; after ``grace_s`` kill every remaining descendant.  As the
    subreaper of its tree, no child left means no descendant left."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError("child processes survived SIGKILL")
            for pid in telemetry.descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # runs the clean-up of main()


def closed_loop(wl, seconds: float):
    """Run operations back to back for about ``seconds``: the next one
    starts only if it is due to end less than half an operation past the
    window.  Returns per-kind timings and the attempted/failed counts."""
    timings: dict[str, list[float]] = {}
    attempted = failed = 0
    walls: list[float] = []
    end = time.perf_counter() + seconds
    run = telemetry.Stopwatch()
    while True:
        t = time.perf_counter()
        try:
            results = wl.op()
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            attempted += 1
            failed += 1
            results = []
        for kind, dt, ok in results:
            timings.setdefault(kind, []).append(dt)
            attempted += 1
            failed += 0 if ok else 1
        now = time.perf_counter()
        walls.append(now - t)
        if now + statistics.median(walls) / 2 >= end:
            print(f"loop: {run.stolen():.2f}s stolen per vCPU", file=sys.stderr)
            return timings, attempted, failed


def set_up(args, cores: int, work: str, tracer):
    """Session start, GEN_REPS input generations, oracle, warm-up.
    Returns the session, the workload and the set-up timings."""
    sw = telemetry.Stopwatch()
    with tracer.span("session.start"):
        spark = start_session(cores, work)
    start_s = sw.elapsed()
    wl = WORKLOADS[args.workload](spark, work, args.seed, cores, tracer)
    gen = []
    for _ in range(GEN_REPS):
        with tracer.span("sources.gen"):
            sw = telemetry.Stopwatch()
            wl.generate()
            gen.append(sw.elapsed())
    wl.prepare()  # the oracle: untimed, not part of the engine's set-up
    sw = telemetry.Stopwatch()
    for _ in range(WARM_OPS):
        wl.warm_up()
    warm_s = sw.elapsed()
    print(f"setup: start {start_s:.2f}s, gen {gen}, warm-up {warm_s:.2f}s",
          file=sys.stderr)
    return spark, wl, {"start": start_s, "gen": statistics.median(gen),
                       "warm": warm_s}


def traced_layers(spark, wl, cores: int, work: str, seconds: float,
                  untraced_dps: float) -> tuple[dict, int, int]:
    """Restart Spark with the event log on, rerun the loop under the
    measured job group, then the workload's layer extras and probes.
    Returns the layer metrics and the attempted/failed counts."""
    event_log = os.path.join(work, "eventlog")
    spark.stop()
    spark = start_session(cores, work, event_log)
    try:
        wl.rebind(spark)
        wl.warm_up()
        spark.sparkContext.setJobGroup(MEASURE_GROUP, "timed operations")
        with wl.tracer.span("measure.traced"):
            timings, attempted, failed = closed_loop(wl, seconds)
        spark.sparkContext.setJobGroup("perfbench-extras", "layer probes")
        traced_dps = wl.rows_in() / statistics.median(timings["job"])
        layer = {
            "sources.input_bytes": dir_bytes(wl.input_path),
            "trace.overhead": 1.0 - traced_dps / untraced_dps,
        }
        layer.update(wl.extras(timings))
        layer.update(wl.kernel_probes())
    finally:
        stop_spark()  # flushes the event log
    layer.update(telemetry.spark_metrics(event_log, MEASURE_GROUP,
                                         len(timings["job"])))
    return layer, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM's and pyspark's scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    tracer = telemetry.Tracer(run_id, enabled=bool(args.trace))
    try:
        spark, wl, setup = set_up(args, cores, work, tracer)
        # the traced run splits its time between an untraced and a traced loop
        seconds = args.seconds / 2 if args.trace else args.seconds
        tracer.enabled = False
        with telemetry.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            timings, attempted, failed = closed_loop(wl, seconds)
        tracer.enabled = bool(args.trace)
        print(f"measured: {timings}; jvm {rss.jvm_peak_kb >> 10} MB, "
              f"{rss.worker_peak_n} workers {rss.worker_peak_kb >> 10} MB",
              file=sys.stderr)
        docs_per_s = wl.rows_in() / statistics.median(timings["job"])
        if args.trace:
            layer, t_att, t_fail = traced_layers(
                spark, wl, cores, work, seconds, docs_per_s)
            attempted += t_att
            failed += t_fail
            layer["session.start_s"] = setup["start"]
            layer["sources.gen_s"] = setup["gen"]
            unknown = set(layer) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"metrics missing from layers.PER_LAYER: {unknown}")
            # a layer the workload's job does not run did no work: 0
            values = {k: layer.get(k, 0.0) for k in PER_LAYER}
            units = {k: unit for k, (unit, _moves) in PER_LAYER.items()}
            tracer.write(os.path.join(ROOT, ".perfbench_work", run_id + ".trace.json"))
        else:
            values = {
                "setup_s": setup["start"] + setup["gen"] + setup["warm"],
                "docs_per_s": docs_per_s,
                # a workload without checkpoints recovers by rerunning its job
                "resume_s": statistics.median(timings.get("resume", timings["job"])),
                "peak_rss_mb": rss.peak_mb,
            }
            units = END_TO_END
    finally:
        try:
            stop_spark()
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)

    for name, value in values.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(f"{args.workload} fail_ratio = {failed / attempted:.6g} "
          f"({failed} failed of {attempted} attempted)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
