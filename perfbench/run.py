#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload offline --seed 1 --seconds 6 --trace 0

Run it from the repository root.  Each run works in a fresh scratch root
under ``.perfbench_runs/`` (``TMPDIR``, the corpus stage dir, Spark's
local dirs, stream checkpoints, lake tables and fixtures all live there)
with that root as its working directory, and removes it at the end.

Workloads (``WORKLOADS``):

- ``offline``: reco_batch (eight driver queries, cold) + corpus_build
  (ledger cold, then resume) on a fixed sf0.001 fixture; ``--seed`` does
  not change the inputs.
- ``online``: online_events (open loop at two rates through the file
  stream into a KV store) + lake_upsert (Delta and Iceberg merges,
  deletes, point reads, compaction) on an sf0.002 static state; ``--seed``
  draws the fixture, the event users and the lake round.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
work with spans, the Spark event log and streaming progress switched on
and prints the per-layer metrics.  The last stdout line is the result;
the line before it is the run record (host, steal, named metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hainan_big_data_recommend_system_spark"
WORKLOADS = ("offline", "online")
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("request_p50_ms", "ms"),
              ("request_p90_ms", "ms"), ("store_s", "s"), ("live_mem_mb", "MB"))


def driver_mem_mb(ram_mb: float) -> int:
    """Driver heap: an eighth of RAM, 1-2 GB (the inputs are tens of MB,
    and the host is shared)."""
    return int(min(2048, max(1024, ram_mb / 8)))


def host_env(root: str) -> dict[str, str]:
    """Environment of a hermetic, host-sized run rooted at ``root``."""
    from perfbench.host import mem_total_mb

    cpus = len(os.sched_getaffinity(0))
    mem_mb = driver_mem_mb(mem_total_mb())
    py_path = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return {
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_GRAFT_STAGE_DIR": os.path.join(root, "stage"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "PYTHONPATH": py_path,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def start_session(ctx, trace: bool):
    from hainan_big_data_recommend_system_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.root, "warehouse"),
            # a fixed-size heap, so GC timing does not follow heap growth
            # run to run; JVM temp files stay in the run root (no
            # /tmp/hsperfdata)
            "spark.driver.extraJavaOptions": " ".join([
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                f"-Dderby.system.home={ctx.root}", "-XX:-UsePerfData"])}
    if trace:
        log_dir = ctx.dir("eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        })
    t0 = time.perf_counter()
    with ctx.tracer.span("session", "start"):
        ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
        ctx.spark.range(1).collect()
    ctx.setup["start_s"] = time.perf_counter() - t0


def stop_session(ctx) -> None:
    """Stop Spark and the JVM and wait until every child process ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from perfbench.host import tree_pids

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:
            pass  # the JVM is already gone
        SparkContext._gateway = SparkContext._jvm = None
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline and len(tree_pids(os.getpid())) > 1:
        time.sleep(0.1)


def run(args) -> dict:
    from perfbench import host, layers, offline, online, trace as T
    from perfbench.common import REQUEST_JOBS, STORE_JOBS, Ctx, percentile

    runs = os.path.join(ROOT, ".perfbench_runs")
    root = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for stale in os.listdir(runs) if os.path.isdir(runs) else ():
        pid = stale.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, stale), ignore_errors=True)  # a killed run's root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    os.environ.update(host_env(root))
    for k in ("TMPDIR", "SPARK_GRAFT_STAGE_DIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(os.environ[k], exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(root)

    record = {
        "root": root, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": round(host.mem_total_mb()), "sha": host.source_sha(ROOT),
        "loadavg_start": os.getloadavg(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    cpu0 = host.cpu_times()
    ctx = Ctx(root=root, seed=args.seed, trace=bool(args.trace), tracer=T.Tracer(bool(args.trace)))
    try:
        start_session(ctx, bool(args.trace))
        if args.workload == "offline":
            offline.run(ctx, offline.setup(ctx))
        else:
            state = online.setup(ctx)
            online.run_events(ctx, state, args.seconds)
            online.run_lake(ctx, state)
    finally:
        stop_session(ctx)
    record["steal_share"] = round(host.steal_share(cpu0, host.cpu_times()), 4)
    record["loadavg_end"] = os.getloadavg()
    record["setup"] = {k: round(v, 4) for k, v in ctx.setup.items()}
    record["named"] = {k: {"value": round(v, 4), "unit": u} for k, (v, u) in ctx.named.items()}
    record["notes"] = {k: ctx.notes[k] for k in ("retained_rdds", "stage_dir_mb", "events_low",
                                                  "events_high", "kv_mismatch") if k in ctx.notes}
    record["failures"] = ctx.failures[:20]
    record["live_mem_mb"] = {j: {k: round(v, 1) for k, v in m.items()} for j, m in ctx.mem.items()}
    if ctx.trace and "stream" in ctx.notes:
        record["batches"] = [{k: round(v, 3) if isinstance(v, float) else v for k, v in b.items()}
                             for b in ctx.notes["stream"]["batches"]]

    good = [o for o in ctx.ops if o.ok]
    requests = [o.ms for o in good if o.job in REQUEST_JOBS]
    failed = len(ctx.ops) - len(good)
    attempted = max(1, len(ctx.ops))

    if args.trace:
        t_trace = time.perf_counter()
        log = T.read_event_log(os.path.join(root, "eventlog"))
        metrics = layers.compute(ctx, log)
        metrics["trace.eventlog_mb"] = sum(
            os.path.getsize(f) for f in T.event_log_files(os.path.join(root, "eventlog"))) / T.MB
        metrics["trace.tracer_s"] = time.perf_counter() - t_trace
        units = dict(layers.PER_LAYER)
        out_metrics = {k: {"value": round(float(metrics[k]), 6), "unit": units[k]}
                       for k, _ in layers.PER_LAYER}
        record["counts_per_group"] = {}
        for g, ids in ctx.notes.get("groups", {}).items():
            jobs = [log.jobs[j] for j in ids if j in log.jobs]
            record["counts_per_group"][g] = {
                "jobs": len(ids), "stages": T.stage_count(log, jobs),
                "tasks": len(T.tasks_of(log, jobs))}
    else:
        setup_s = sum(ctx.setup.values())
        values = {
            "setup_s": setup_s, "wall_s": ctx.wall_s,
            "request_p50_ms": percentile(requests, 50),
            "request_p90_ms": percentile(requests, 90),
            "store_s": sum(ctx.job_s.get(j, 0.0) for j in STORE_JOBS),
            "live_mem_mb": max(sum(m.values()) for m in ctx.mem.values()),
        }
        out_metrics = {k: {"value": round(values[k], 6), "unit": u} for k, u in END_TO_END}
    record["ops"] = {"attempted": attempted, "failed": failed,
                     "store": [(o.name, round(o.ms, 1)) for o in good if o.job in STORE_JOBS],
                     "requests": ([(o.name, round(o.ms, 1)) for o in good if o.job == "reco_batch"]
                                  or len(requests))}
    return {"record": record, "result": {
        "correct": failed == 0, "attempted": attempted,
        "failed": failed, "metrics": out_metrics}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6,
                    help="length of the open-loop event phases (online)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args)
    os.chdir(ROOT)
    shutil.rmtree(out["record"]["root"], ignore_errors=True)
    print(json.dumps(out["record"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
