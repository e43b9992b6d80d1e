"""State shared by the workloads of one benchmark run."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .host import live_mem_mb
from .trace import Tracer

#: Fixture scale of the offline jobs (reco_batch, corpus_build): the
#: canonical sf0.001 row counts, fixed seed, so the offline inputs are
#: the same in every run whatever ``--seed`` says.
OFFLINE_SF = 0.001
OFFLINE_FIXTURE_SEED = 42
#: Fixture scale of the static recommendation state the online jobs serve
#: (300 users); the fixture, event users and lake round come from --seed.
ONLINE_SF = 0.002


#: Each workload runs two jobs.  Its *request* job serves many small
#: operations (a catalog query of the nightly batch, an online event),
#: timed one by one; its *store* job writes derived data (the corpus
#: build, the lake tables), timed as a whole.
REQUEST_JOBS = ("reco_batch", "online_events")
STORE_JOBS = ("corpus_build", "lake_upsert")


@dataclass
class Op:
    """One user-visible operation of a workload."""

    job: str
    name: str
    ms: float
    ok: bool


@dataclass
class Ctx:
    root: str            # hermetic scratch root of this run
    seed: int
    trace: bool
    tracer: Tracer
    spark: object = None
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    setup: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    #: wall-clock (start, end) of the timed regions; wall_s is their sum
    windows: list[tuple[float, float]] = field(default_factory=list)
    job_s: dict[str, float] = field(default_factory=dict)
    #: memory the program holds at the end of each job (``live_mem_mb``)
    mem: dict[str, dict[str, float]] = field(default_factory=dict)

    @contextmanager
    def timed(self, job: str):
        """Time one job's region of the run; after it, outside the region,
        measure the memory the program holds."""
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.windows.append((start, end))
            self.job_s[job] = self.job_s.get(job, 0.0) + end - start
        self.mem[job] = live_mem_mb(self.spark)

    @property
    def wall_s(self) -> float:
        return sum(e - s for s, e in self.windows)

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def op(self, job: str, name: str, ms: float, ok: bool, why: str = "") -> None:
        self.ops.append(Op(job, name, ms, ok))
        if not ok:
            self.failures.append(f"{job}/{name}: {why}" if why else f"{job}/{name}")

    def fail(self, job: str, name: str, why: str) -> None:
        """An operation that produced no timing (error or undelivered)."""
        self.ops.append(Op(job, name, float("nan"), False))
        self.failures.append(f"{job}/{name}: {why}")


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def retained_rdds(spark) -> int:
    """Persisted RDDs the JVM still holds (eager localCheckpoints included)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 when it does not exist)."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (NaN for no values)."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)
