"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Every workload reports every metric; a layer the workload bypasses
reads 0, which is how the layer map (README.md) is checked run by run.
"""

from __future__ import annotations

import json
import statistics

from . import trace as T

LEDGER_STAGES = ("00_ingest_html", "00_ingest_pdf", "00_ingest_markdown",
                 "00_ingest_subtitle", "01_clean", "02_quality", "03_neardup",
                 "04_decontam", "05_select", "06_splits", "07_objective", "08_shards")
LAKE_VERBS = ("write", "merge", "delete", "read")

PER_LAYER: list[tuple[str, str]] = (
    [("session.start_s", "s")]
    + [(f"qcatalog.{m}", u) for m, u in (
        ("wall_s", "s"), ("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("retained_rdds", "count"))]
    + [(f"operators.{m}", u) for m, u in (
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("task_wait_s", "s"),
        ("input_mb", "MB"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("py_boot_s", "s"), ("py_init_s", "s"), ("py_total_s", "s"),
        ("py_sent_mb", "MB"), ("py_recv_mb", "MB"), ("py_rows", "count"))]
    + [(f"corpus_pipeline.{m}", u) for m, u in (
        ("wall_s", "s"), ("cold_s", "s"), ("resume_s", "s"), ("cold_jobs", "count"),
        ("resume_jobs", "count"), ("stage_dir_mb", "MB"))]
    + [(f"corpus_pipeline.{s}.{d}", "count") for s in LEDGER_STAGES for d in ("rows_in", "rows_out")]
    + [(f"streaming.{m}", u) for m, u in (
        ("wall_s", "s"), ("batches", "count"), ("rows_per_batch", "count"),
        ("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("latest_offset_ms", "ms"),
        ("planning_ms", "ms"), ("wal_commit_ms", "ms"), ("recommend_batch_ms", "ms"),
        ("jobs_per_batch", "count"), ("backlog_files", "count"), ("gen_late_ms", "ms"),
        ("nonempty_batch_ratio", "ratio"))]
    + [(f"sources.{fmt}.{m}", u) for fmt in ("delta", "iceberg") for m, u in (
        [("wall_s", "s")]
        + [(f"{v}_ms", "ms") for v in LAKE_VERBS]
        + [(f"{v}_jobs", "count") for v in LAKE_VERBS + ("compaction",)]
        + [("compaction_ms", "ms"), ("files_added", "count"), ("files_removed", "count"),
           ("delete_files", "count"), ("bytes_written_per_source_byte", "ratio"),
           ("table_bytes_per_live_byte", "ratio"), ("files_per_point_read", "count"),
           ("rows_returned_per_row_scanned", "ratio"), ("commit_retries", "count")])]
    + [(f"{layer}.{m}", "s") for layer in ("qcatalog", "corpus_pipeline", "streaming",
                                            "sources.delta", "sources.iceberg")
       for m in ("task_s", "py_s")]
    + [("bench.wall_s", "s"), ("trace.wall_s", "s"), ("trace.tracer_s", "s"),
       ("trace.eventlog_mb", "MB")]
)

#: Layer spans whose durations split a run's timed wall.
TOP_LAYERS = ("qcatalog", "corpus_pipeline", "streaming", "sources.delta", "sources.iceberg")


def _median(values) -> float:
    values = [v for v in values if v == v]
    return statistics.median(values) if values else 0.0


def _progress(p) -> dict:
    if isinstance(p, dict):
        return p
    if hasattr(p, "json"):
        return json.loads(p.json)
    return json.loads(str(p))


def compute(ctx, log: T.EventLog) -> dict[str, float]:
    """Every per-layer metric of a traced run, from its spans, notes and
    event log; time splits count only the run's timed windows."""
    tr = ctx.tracer
    out = {name: 0.0 for name, _ in PER_LAYER}
    spans = tr.spans
    windows = ctx.windows

    def of(layer, op=None, top_only=False):
        return [s for s in spans if s.layer == layer and (op is None or s.op == op)
                and (not top_only or s.parent is None or spans[s.parent].layer != layer)]

    def jobs_of(ss):
        return [j for s in ss for j in T.jobs_in(log, s.start, s.end)]

    out["session.start_s"] = ctx.setup.get("start_s", 0.0)

    # time split of the timed windows across layer spans; a window's self
    # time is the benchmark's own code (result conversion, replay)
    tops = []
    for layer in TOP_LAYERS:
        spans_l = [(s.start, s.end) for s in of(layer, top_only=True)]
        out[f"{layer}.wall_s"] = sum(b - a - T.self_time(a, b, spans_l) for a, b in windows)
        tops += spans_l
    out["bench.wall_s"] = sum(T.self_time(a, b, tops) for a, b in windows)
    # executor task time and Python-runner time of the jobs each layer's
    # calls started (the stream's jobs run inside its query span)
    timed_jobs = [j for a, b in windows for j in T.jobs_in(log, a, b)]
    for layer in TOP_LAYERS:
        own = {j.id for j in jobs_of(of(layer, top_only=True))}
        tot = T.task_totals(log, T.tasks_of(log, [j for j in timed_jobs if j.id in own]))
        out[f"{layer}.task_s"] = tot["task_run_s"]
        out[f"{layer}.py_s"] = tot["py_total_s"]

    # qcatalog: driver-side build vs action, counts per query job group
    q = of("qcatalog", "query")
    out["qcatalog.build_s"] = sum(s.duration for s in of("qcatalog", "build"))
    out["qcatalog.action_s"] = sum(s.duration for s in of("qcatalog", "action"))
    qjobs = jobs_of(q)
    groups = ctx.notes.get("groups", {})
    out["qcatalog.jobs"] = sum(len(v) for g, v in groups.items() if g.startswith("reco_batch:"))
    out["qcatalog.stages"] = T.stage_count(log, qjobs)
    out["qcatalog.tasks"] = len(T.tasks_of(log, qjobs))
    out["qcatalog.retained_rdds"] = max(ctx.notes.get("retained_rdds", [0]))

    # operators: executor-side totals over every job of the timed windows
    for k, v in T.task_totals(log, T.tasks_of(log, timed_jobs)).items():
        if f"operators.{k}" in out:
            out[f"operators.{k}"] = v

    # corpus pipeline
    for tag in ("cold", "resume"):
        ss = [s for s in of("corpus_pipeline", "query") if s.attrs.get("key", "").endswith(":" + tag)]
        out[f"corpus_pipeline.{tag}_s"] = sum(s.duration for s in ss)
        out[f"corpus_pipeline.{tag}_jobs"] = len(groups.get(f"corpus_build:corpus_pipeline_ledger:{tag}", []))
    out["corpus_pipeline.stage_dir_mb"] = ctx.notes.get("stage_dir_mb", 0.0)
    for stage, (rin, rout) in ctx.notes.get("ledger:cold", {}).items():
        if f"corpus_pipeline.{stage}.rows_in" in out:
            out[f"corpus_pipeline.{stage}.rows_in"] = rin
            out[f"corpus_pipeline.{stage}.rows_out"] = rout

    # streaming: Spark's own progress reports plus the writer's spans
    st = ctx.notes.get("stream")
    if st:
        prog = [_progress(p) for p in st["progress"]]
        busy = [p for p in prog if p.get("numInputRows", 0) > 0]
        dur = lambda k: _median(p.get("durationMs", {}).get(k, float("nan")) for p in busy)  # noqa: E731
        out["streaming.batches"] = len(st["batches"])
        out["streaming.rows_per_batch"] = _median(p["numInputRows"] for p in busy)
        out["streaming.trigger_ms"] = dur("triggerExecution")
        out["streaming.add_batch_ms"] = dur("addBatch")
        out["streaming.latest_offset_ms"] = dur("latestOffset")
        out["streaming.planning_ms"] = dur("queryPlanning")
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.nonempty_batch_ratio"] = len(busy) / len(prog) if prog else 0.0
        rb = of("streaming", "recommend_batch")
        out["streaming.recommend_batch_ms"] = _median(s.duration * 1e3 for s in rb)
        loop = of("streaming", "open_loop")
        n_b = len([b for b in st["batches"] if loop and loop[0].start <= b["start"] <= loop[0].end])
        out["streaming.jobs_per_batch"] = len(jobs_of(loop)) / n_b if n_b else 0.0
        out["streaming.backlog_files"] = max((b["backlog"] for b in st["batches"]), default=0)
        late = sorted(st["gen_late_ms"])
        out["streaming.gen_late_ms"] = late[int(0.9 * (len(late) - 1))] if late else 0.0

    # lake tables
    for fmt, stt in ctx.notes.get("lake", {}).items():
        pre = f"sources.{fmt}."
        calls = of(f"sources.{fmt}")
        for verb in LAKE_VERBS:
            vs = [s for s in calls if s.op == verb]
            out[pre + f"{verb}_ms"] = _median(s.duration * 1e3 for s in vs)
            out[pre + f"{verb}_jobs"] = _median(len(T.jobs_in(log, s.start, s.end)) for s in vs)
        comp = [s for s in calls if s.op == "compact"]
        out[pre + "compaction_ms"] = sum(s.duration * 1e3 for s in comp)
        out[pre + "compaction_jobs"] = len(jobs_of(comp))
        out[pre + "files_added"] = stt["files_added"]
        out[pre + "files_removed"] = stt["files_removed"]
        out[pre + "delete_files"] = stt.get("delete_files_before_compaction", 0)
        if stt["source_bytes"]:
            merged = [s for s in calls if s.op == "merge"]
            out[pre + "bytes_written_per_source_byte"] = stt["merge_written_bytes"] / stt["source_bytes"] if merged else 0.0
        if stt.get("live_bytes"):
            out[pre + "table_bytes_per_live_byte"] = stt["table_bytes_before_compaction"] / stt["live_bytes"]
        out[pre + "files_per_point_read"] = _median(stt["point_files"])
        reads = [s for s in calls if s.op == "read"]
        scanned = sum(t.input_records for t in T.tasks_of(log, jobs_of(reads)))
        returned = stt.get("point_rows", 0)
        out[pre + "rows_returned_per_row_scanned"] = returned / scanned if scanned else 0.0
        out[pre + "commit_retries"] = stt["version_gaps"]

    out["trace.wall_s"] = ctx.wall_s
    return out
