"""Engine benchmark: one workload in one long-lived local Spark session.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_ops --seed 1 --seconds 5 \
        --trace 0

Workloads (``BENCHMARK.json`` says why each is there):

- ``corpus_ops``: the 14 LLM-data headline query lines, forced through
  the ``noop`` sink;
- ``crud_mixed``: REST/GraphQL requests over a ``ParquetStore`` table.

The run generates its inputs from ``--seed`` under ``.perfbench_work/``
in the repository, starts ``local[N]`` with N = the CPU count and N
shuffle partitions, sets up and warms up (checking every warm-up
output), then measures whole passes or requests for ``--seconds``.
Every output line is JSON. The next-to-last line describes the run:
environment (with ``cpu_steal``, the share of host CPU time a
hypervisor gave to other guests during the run, which stretches every
wall time measured), the per-workload metrics named in the benchmark's
design with their sample counts, and any failures. The last line is the
result: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes per-query or per-request
detail to ``.perfbench_work/trace-<workload>-seed<seed>.json``.

Before it exits, the run waits until every process it started, directly
or through the JVM, has ended, and kills any that outstay a grace time.

Exit status is 0 when the run completed (the result says whether the
outputs were correct), 2 when the engine's sources are missing.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_ops", "crud_mixed")
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.outside_tasks_s": "s",
    "operators.python_run_s": "s",
    "operators.python_init_s": "s",
    "operators.python_boot_s": "s",
    "operators.arrow_bytes_sent": "bytes",
    "operators.arrow_bytes_received": "bytes",
    "storage.read_one_s": "s",
    "storage.write_s": "s",
    "storage.maintain_s": "s",
    "storage.jobs_per_read": "count",
    "storage.jobs_per_write": "count",
    "storage.n_files": "count",
    "storage.overlap_fraction": "ratio",
    "storage.bytes_written_per_user_byte": "ratio",
    "api.self_s": "s",
    "api.graphql_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_min": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(name: str, cpus: int, work: str, event_dir: str | None):
    from gus_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"),
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name=f"perfbench-{name}", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def become_subreaper() -> None:
    """Adopt orphaned descendants: Spark's Python worker daemon is a child
    of the JVM and in a process group of its own, and it and its workers
    can outlive the JVM by seconds."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(name))
    return pids


def reap_descendants(grace: float = 10.0) -> None:
    """Wait until every process this one started, and every descendant
    adopted since, has ended; after ``grace`` seconds send SIGTERM, and
    after twice that SIGKILL."""
    from multiprocessing import resource_tracker

    # the output checks' process pool started multiprocessing's resource
    # tracker, which ignores SIGTERM and ends when its pipe is closed
    resource_tracker._resource_tracker._stop()
    start = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no children left
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > 2 * grace
               else signal.SIGTERM if waited > grace else None)
        # SIGKILL again on every pass: a killed process's children are
        # adopted after it
        if sig is not None and (sig != sent or sig == signal.SIGKILL):
            for pid in children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def cpu_times() -> tuple[int, int]:
    """(all, stolen) CPU time of the host since boot, in clock ticks:
    time a hypervisor gave other guests shows up in every wall time the
    run measures."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def environment(spark, cpus: int, sf_dir: str | None, seed: int) -> dict:
    import pyspark

    return {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "sf_dir": sf_dir,
        "seed": seed,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run(args, work: str, cpus: int) -> int:
    from perfbench import datagen, eventlog, stats, workloads
    from perfbench.trace import jvm_peak_rss_mb

    sf_dir = None
    if args.workload == "corpus_ops":
        sf_dir = datagen.write_tables(args.seed, os.path.join(work, "sf0.1"))
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    cpu0 = cpu_times()
    t0 = time.perf_counter()
    spark = start_session(args.workload, cpus, work, event_dir)
    start_s = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark, args.seed, bool(args.trace), cpus,
                                work, sf_dir)
        if args.workload == "crud_mixed":
            wl = workloads.CrudWorkload(ctx)
        else:
            wl = workloads.QueryWorkload(ctx, workloads.CORPUS_OPS)
        check_s = wl.setup()
        setup_s = time.perf_counter() - t0 - check_s
        wl.measure(args.seconds)
        env = environment(spark, cpus, sf_dir, args.seed)
        rss = jvm_peak_rss_mb(spark) if args.trace else None
    finally:
        stop_session(spark)
    cpu1 = cpu_times()
    env["cpu_steal"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)

    e2e = wl.end_to_end()
    latency = stats.summary([x * 1e3 for x in e2e["latency"]])
    tally = wl.tally
    info = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "setup": {"setup_s": setup_s, "session_start_s": start_s,
                  "check_s": check_s},
        "latency_ms": latency,
        "workload_metrics": wl.workload_metrics(),
        "failed_ratio": tally.failed / max(tally.attempted, 1),
        "problems": tally.problems,
    }
    if args.trace:
        groups = eventlog.stats_by_group(eventlog.read_events(event_dir))
        layer, detail = wl.per_layer(groups)
        layer.update({"session.start_s": start_s,
                      "session.jvm_peak_rss_mb": rss})
        metrics = {
            name: {"value": float(layer.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        trace_file = os.path.join(
            ROOT, ".perfbench_work",
            f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w", encoding="utf-8") as fh:
            json.dump({"info": info, "per_layer": metrics, "detail": detail},
                      fh, indent=1, default=str)
        info["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        values = {"setup_s": setup_s, "op_p50_ms": e2e["op_p50_ms"],
                  "ops_per_s": e2e["ops_per_s"]}
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in END_TO_END.items()}
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gus_spark", "__init__.py")):
        print(f"perfbench: no gus_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # Python workers import gus_spark too: they see PYTHONPATH, not the
    # driver's sys.path
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))  # as nproc counts them
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    become_subreaper()
    try:
        return run(args, work, cpus)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
