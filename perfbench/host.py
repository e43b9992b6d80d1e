"""Run record and process-tree memory (Linux ``/proc``)."""

from __future__ import annotations

import gc
import hashlib
import os
import subprocess
import time


def cpu_times() -> dict[str, int]:
    """Aggregate ``cpu`` line of ``/proc/stat`` in clock ticks."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    keys = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {k: int(v) for k, v in zip(keys, f[1:9])}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_sha(root: str) -> str:
    """The git commit when ``root`` is a repository, else a hash of the
    engine's Python sources (a plain checkout carries no ``.git``)."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "hainan_big_data_recommend_system_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times, so a fork (the pyspark worker daemon and
    its workers) is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def live_mem_mb(spark) -> dict[str, float]:
    """Memory the program holds now, in MB: the JVM's heap right after a
    full collection (its live set, which does not depend on how large the
    heap is configured), the JVM's non-heap (metaspace, code cache), and
    the PSS of every other process of the tree (this Python driver, the
    pyspark daemon and its workers).  Python collects first, so that
    dead py4j proxies release the JVM objects they pin.  The JVM collects
    twice: the first collection hands dead RDDs, shuffles and broadcasts
    to Spark's ContextCleaner, which drops their blocks; the second frees
    those."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.3)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_pid = jvm.ProcessHandle.current().pid()
    python_kb = sum(pss_kb(p) for p in tree_pids(os.getpid()) if p != jvm_pid)
    mb = 1024 * 1024
    return {"heap": mx.getHeapMemoryUsage().getUsed() / mb,
            "non_heap": mx.getNonHeapMemoryUsage().getUsed() / mb,
            "python": python_kb / 1024}
