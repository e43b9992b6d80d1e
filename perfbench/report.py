#!/usr/bin/env python3
"""Run every workload untraced and traced for one seed and print, per
workload: the named end-to-end metrics with units, the correctness gate
(``fail_ratio``), the time split across layers with the dominant layer,
each prediction from the layer map checked against the measurement, and
the tracing overhead (traced minus untraced timed wall).

    python3 perfbench/report.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import TOP_LAYERS  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

NAMED = {
    "offline": ("batch_wall_s", "corpus_cold_s", "corpus_resume_s"),
    "online": ("event_p50_ms_low", "event_p99_ms_low", "event_p50_ms_high",
               "event_p99_ms_high", "delta_commit_ms", "iceberg_commit_ms",
               "delta_read_ms", "iceberg_read_ms"),
}


def predictions(wl: str, m: dict[str, float]) -> list[tuple[str, bool, str]]:
    """(claim, holds, measured) for the layer map's predictions."""
    def share(k, total):
        return m[k] / total if total else 0.0

    if wl == "offline":
        q, c = m["qcatalog.wall_s"], m["corpus_pipeline.wall_s"]
        return [
            ("reco_batch: qcatalog (build + action) dominates the nightly job",
             q > c, f"qcatalog {q:.1f}s vs corpus_pipeline {c:.1f}s"),
            ("reco_batch: driver-side plan building is a large share",
             share("qcatalog.build_s", q) > 0.25,
             f"build {m['qcatalog.build_s']:.1f}s of {q:.1f}s"),
            ("corpus_build: Python workers take most of its executor time",
             m["corpus_pipeline.py_s"] > 0.5 * m["corpus_pipeline.task_s"],
             f"python {m['corpus_pipeline.py_s']:.1f}s of {m['corpus_pipeline.task_s']:.1f}s task time"),
            ("corpus_build: resume is cheaper than cold",
             m["corpus_pipeline.resume_s"] < m["corpus_pipeline.cold_s"],
             f"resume {m['corpus_pipeline.resume_s']:.1f}s, cold {m['corpus_pipeline.cold_s']:.1f}s"),
        ]
    trig = m["streaming.trigger_ms"]
    lake_py = m["sources.delta.py_s"] + m["sources.iceberg.py_s"]
    lake_task = m["sources.delta.task_s"] + m["sources.iceberg.task_s"]
    return [
        ("online_events: the per-batch scheduling floor, not data, sets latency",
         m["streaming.rows_per_batch"] <= 10,
         f"{m['streaming.rows_per_batch']:.0f} rows/batch, trigger {trig:.0f}ms, "
         f"{m['streaming.jobs_per_batch']:.1f} jobs/batch"),
        ("online_events: Python workers do little",
         m["streaming.py_s"] < 0.1 * m["streaming.task_s"],
         f"python {m['streaming.py_s']:.1f}s of {m['streaming.task_s']:.1f}s task time"),
        ("lake_upsert: little Python runs",
         lake_py < 0.1 * lake_task, f"python {lake_py:.1f}s of {lake_task:.1f}s task time"),
        ("lake_upsert: an Iceberg merge is cheaper than a Delta merge",
         m["sources.iceberg.merge_ms"] < m["sources.delta.merge_ms"],
         f"iceberg {m['sources.iceberg.merge_ms']:.0f}ms vs delta {m['sources.delta.merge_ms']:.0f}ms"),
        ("lake_upsert: Iceberg point reads cost more than Delta's",
         m["sources.iceberg.read_ms"] > m["sources.delta.read_ms"],
         f"iceberg {m['sources.iceberg.read_ms']:.0f}ms vs delta {m['sources.delta.read_ms']:.0f}ms"),
    ]


def run(wl: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{wl} trace={trace} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args()
    for wl in WORKLOADS:
        rec, res = run(wl, args.seed, args.seconds, 0)
        trec, tres = run(wl, args.seed, args.seconds, 1)
        e2e = res["metrics"]
        print(f"== {wl} (seed {args.seed}, nproc {rec['nproc']}, steal {rec['steal_share']:.1%}, "
              f"sha {rec['sha'][:12]})")
        rows = [("setup_s", e2e["setup_s"]["value"], "s")]
        rows += [(k, rec["named"][k]["value"], rec["named"][k]["unit"]) for k in NAMED[wl]]
        rows += [("fail_ratio", res["failed"] / res["attempted"], "ratio"),
                 ("live_mem_mb", e2e["live_mem_mb"]["value"], "MB")]
        for k, v, u in rows:
            print(f"  {k:22s} {v:12.4f} {u}")
        print(f"  correct={res['correct']} attempted={res['attempted']} failed={res['failed']}"
              + (f" failures={rec['failures']}" if rec["failures"] else ""))
        m = {k: v["value"] for k, v in tres["metrics"].items()}
        wall = m["trace.wall_s"]
        split = sorted(((m[f"{layer}.wall_s"], layer) for layer in TOP_LAYERS + ("bench",)), reverse=True)
        print("  layer split of the traced timed wall ({:.1f}s):".format(wall))
        for v, layer in split:
            if v:
                ex = (f"  executor {m[layer + '.task_s']:7.2f}s, python {m[layer + '.py_s']:6.2f}s"
                      if layer != "bench" else "")
                print(f"    {layer:18s} {v:8.2f}s {v / wall:6.1%}{ex}")
        print(f"    executor task time {m['operators.task_run_s']:.1f}s "
              f"(cpu {m['operators.task_cpu_s']:.1f}s, python {m['operators.py_total_s']:.1f}s) "
              f"over {wall:.1f}s wall")
        print(f"  dominant layer: {split[0][1]}")
        for claim, ok, measured in predictions(wl, m):
            print(f"  [{'as predicted' if ok else 'DIFFERS'}] {claim}: {measured}")
        overhead = wall - e2e["wall_s"]["value"]
        print(f"  tracing overhead: {overhead:+.2f}s on a {e2e['wall_s']['value']:.2f}s untraced "
              f"wall ({overhead / e2e['wall_s']['value']:+.1%}); tracer post-processing "
              f"{m['trace.tracer_s']:.2f}s, event log {m['trace.eventlog_mb']:.1f}MB")
    return 0


if __name__ == "__main__":
    sys.exit(main())
