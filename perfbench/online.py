"""The online jobs: the event-triggered recommendation worker and the
serving store held as lake tables.

- ``online_events``: an open-loop generator writes one small parquet
  event file per event (``EVENT_SCHEMA``, creation time in ``ts``, user
  ids drawn from ``--seed``) into a watched directory at two fixed rates.
  The files flow through ``read_event_stream`` -> ``parse_events`` ->
  ``start_kv_query(available_now=False)``; the benchmark's own
  ``foreachBatch`` writer calls ``recommend_batch`` on the static state
  and upserts the rows into an in-memory KV store.  An event's latency
  runs from its due time to the completed KV write of its micro-batch;
  the batch's files come from the file source's own offset log.
- ``lake_upsert``: the static state's recommendation rows are written
  once as a Delta and an Iceberg table, then one seeded round of merges
  (200 users), deletes (20 users) and point reads (10 users) runs on
  both, then one compaction each and a full read.

Correctness, after the timed region: the KV store must equal one
``recommend_batch`` recompute over every generated event, and every read
must equal a replay of the seeded merges and deletes.
"""

from __future__ import annotations

import json
import os
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .common import ONLINE_SF, Ctx, dir_bytes, percentile
from .fixtures import EVENT_TYPES, generate
from .openloop import Generator, latencies_ms, lateness_ms, schedule

#: Open-loop rates (events/s); both stay below the worker's saturation
#: rate on a 4-core host, so the backlog stays bounded.
RATE_LOW = 4.0
RATE_HIGH = 12.0
#: Files one micro-batch may take (the source's maxFilesPerTrigger).
MAX_FILES = 256
#: Undelivered after this long past the last due time = failed.
DRAIN_S = 20.0
#: Untimed one-event micro-batches before the measured phases: the
#: stream's per-batch cost falls by about half over its first batches as
#: the JVM compiles the path (1.2 s -> 0.5 s measured on 4 cores).
WARMUP_BATCHES = 6

MERGE_USERS = 200
DELETE_USERS = 20
READ_USERS = 10

EVENT_ARROW = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def setup(ctx: Ctx):
    from hainan_big_data_recommend_system_spark.streaming.recommend import build_static_state

    sf_dir = ctx.dir("fixture")
    t0 = time.perf_counter()
    ctx.notes["online_rows"] = generate(sf_dir, ONLINE_SF, ctx.seed)
    ctx.setup["fixture_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ctx.tracer.span("streaming", "static_state"):
        state = build_static_state(ctx.spark, sf_dir)
    ctx.setup["static_state_s"] = time.perf_counter() - t0
    return state


# ------------------------------------------------------------ online_events

def batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """Files the file source assigned to ``batch_id``, from its offset log
    (``sources/0/<id>``, or the ``.compact`` file that folds it in)."""
    base = os.path.join(checkpoint, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(base, name)
        if os.path.exists(p):
            with open(p) as fh:
                lines = fh.read().splitlines()[1:]
            out = []
            for line in lines:
                if line.strip():
                    e = json.loads(line)
                    if e.get("batchId", batch_id) == batch_id:
                        out.append(e["path"])
            return out
    return []


def _event_id(path: str) -> int:
    return int(os.path.basename(path).split("-")[1].split(".")[0])


def run_events(ctx: Ctx, state, seconds: float) -> None:
    from hainan_big_data_recommend_system_spark.streaming.events import (
        EVENT_SCHEMA, parse_events, read_event_stream)
    from hainan_big_data_recommend_system_spark.streaming.recommend import recommend_batch
    from hainan_big_data_recommend_system_spark.streaming.sinks import start_kv_query

    spark, tr = ctx.spark, ctx.tracer
    events_dir, staging = ctx.dir("events"), ctx.dir("events_staging")
    checkpoint = os.path.join(ctx.root, "checkpoint")
    rng = np.random.default_rng(ctx.seed)
    n_users = ctx.notes["online_rows"]["customer"]

    store: dict[str, str] = {}
    done: dict[int, float] = {}
    batches: list[dict] = []
    sent_count = [0]

    def write_event(event_id: int, user: int) -> None:
        row = pa.table({
            "event_id": [event_id], "ts": [pd.Timestamp.now(tz="UTC")],
            "user_id": [user], "event_type": [EVENT_TYPES[event_id % 5]],
            "value": [float(event_id % 97)], "props": [f'{{"k": {event_id % 100}}}'],
        }, schema=EVENT_ARROW)
        tmp = os.path.join(staging, f"ev-{event_id:07d}.parquet")
        pq.write_table(row, tmp)
        os.rename(tmp, os.path.join(events_dir, os.path.basename(tmp)))
        sent_count[0] += 1

    qspan = [None]

    def on_batch(df, batch_id):
        t0 = time.time()
        backlog = sent_count[0] - len(done)
        with tr.span("streaming", "batch", parent=qspan[0], key=batch_id):
            with tr.span("streaming", "recommend_batch", key=batch_id):
                rows = recommend_batch(df, state).collect()
            for r in rows:
                store[r["kv_key"]] = r["ids_csv"]
        t1 = time.time()
        ids = [_event_id(p) for p in batch_files(checkpoint, batch_id)]
        for i in ids:
            done[i] = t1
        batches.append({"id": batch_id, "start": t0, "end": t1,
                        "files": len(ids), "backlog": backlog})

    warm_ids = list(range(10_000_000, 10_000_000 + WARMUP_BATCHES))
    with tr.span("streaming", "query") as qs:
        qspan[0] = qs
        stream = parse_events(read_event_stream(spark, events_dir, max_files=MAX_FILES))
        query = start_kv_query(stream, on_batch, checkpoint, available_now=False)
        try:
            t_warm = time.perf_counter()
            for i in warm_ids:
                write_event(i, int(rng.integers(1, n_users + 1)))
                while i not in done:
                    if time.perf_counter() - t_warm > 60 or query.exception():
                        raise RuntimeError(f"warm-up not delivered: {query.exception()}")
                    time.sleep(0.01)
            ctx.setup["stream_warmup_s"] = time.perf_counter() - t_warm

            phase_s = seconds / 2
            plan = schedule(time.time() + 0.2, [("low", RATE_LOW, phase_s),
                                                ("high", RATE_HIGH, phase_s)])
            users = rng.integers(1, n_users + 1, len(plan))
            gen = Generator(plan, lambda ev: write_event(ev.event_id, int(users[ev.event_id])))
            with ctx.timed("online_events"), tr.span("streaming", "open_loop"):
                gen.start()
                gen.join()
                deadline = time.time() + DRAIN_S
                while len([e for e in plan if e.event_id in done]) < len(plan):
                    if time.time() > deadline or query.exception():
                        break
                    time.sleep(0.02)
        finally:
            query.stop()
    if gen.error is not None:
        ctx.fail("online_events", "generator", repr(gen.error))
    if query.exception():
        ctx.fail("online_events", "query", str(query.exception()))

    # ---- correctness: the KV store equals one recompute over all events
    everything = parse_events(spark.read.schema(EVENT_SCHEMA).parquet(events_dir))
    want = {r["kv_key"]: r["ids_csv"] for r in recommend_batch(everything, state).collect()}
    lat = latencies_ms(plan, done)
    for ev in plan:
        if ev.event_id not in done:
            ctx.fail("online_events", f"event{ev.event_id}", "undelivered")
    kv_ok = store == want
    for phase, values in lat.items():
        for v in values:
            ctx.op("online_events", phase, v, kv_ok, "" if kv_ok else "kv store != recompute")
    if not kv_ok:
        ctx.notes["kv_mismatch"] = len(set(store.items()) ^ set(want.items()))

    for phase in ("low", "high"):
        v = lat.get(phase, [])
        ctx.named[f"event_p50_ms_{phase}"] = (percentile(v, 50), "ms")
        ctx.named[f"event_p99_ms_{phase}"] = (percentile(v, 99), "ms")
        ctx.notes[f"events_{phase}"] = len(v)
    ctx.notes["stream"] = {
        "batches": batches,
        "progress": list(query.recentProgress or []),
        "gen_late_ms": lateness_ms(plan, gen.sent),
    }


# --------------------------------------------------------------- lake_upsert

def _lake_files(fmt: str, table_dir: str) -> tuple[set[str], int]:
    """(live data files, delete files) of a table's current snapshot; for
    Delta the delete files are the files carrying a deletion vector."""
    if fmt == "delta":
        from hainan_big_data_recommend_system_spark.sources.delta_sink import snapshot

        snap = snapshot(table_dir)
        return set(snap.get("live", {})), len(snap.get("deletion_vectors", {}) or {})
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import read_table

    snap = read_table(table_dir)
    return (set(snap.get("live", {})),
            len(snap.get("position_delete_files") or ()) + int(snap.get("n_equality_delete_files", 0)))


def _frame(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["uid", "rk"]).reset_index(drop=True)[["uid", "rk", "pid"]]


def run_lake(ctx: Ctx, state) -> None:
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.sources import delta_sink as D, iceberg_sink as I

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed + 1)
    schema = "uid bigint, rk int, pid bigint"
    base = state.user_recs.select(
        F.col("uid").cast("bigint").alias("uid"),
        F.posexplode("rec_ids").alias("rk", "pid"),
    ).select("uid", F.col("rk").cast("int"), F.col("pid").cast("bigint"))
    model = _frame(base.toPandas())
    uids = np.array(sorted(model["uid"].unique()))
    dirs = {"delta": os.path.join(ctx.root, "lake", "delta"),
            "iceberg": os.path.join(ctx.root, "lake", "iceberg")}
    verbs = {
        "delta": {"write": lambda df, d: D.write_delta(df, d),
                  "merge": lambda df, d: D.merge_delta(spark, df, d, ["uid", "rk"]),
                  "delete": lambda c, d: D.delete_where_delta(spark, d, c),
                  "read": lambda d: D.read_delta_table(spark, d),
                  "compact": lambda d: D.optimize_delta(spark, d)},
        "iceberg": {"write": lambda df, d: I.write_iceberg(df, d),
                    "merge": lambda df, d: I.merge_iceberg(spark, df, d, ["uid", "rk"]),
                    "delete": lambda c, d: I.delete_where_iceberg(spark, d, c),
                    "read": lambda d: I.read_iceberg_table(spark, d),
                    "compact": lambda d: I.rewrite_data_files_iceberg(spark, d)},
    }
    stats = {fmt: {"files_added": 0, "files_removed": 0, "version_gaps": 0,
                   "source_bytes": 0, "merge_written_bytes": 0, "point_files": [],
                   "point_rows": 0, "calls": []} for fmt in dirs}
    reads: list[tuple[str, str, pd.DataFrame, pd.DataFrame]] = []

    def call(fmt: str, verb: str, fn, *args, source_bytes: int = 0):
        """Time one verb; when tracing, also diff the table's files and
        bytes around it (file-system probes stay out of untraced runs)."""
        d = dirs[fmt]
        if ctx.trace:
            before_files = _lake_files(fmt, d)[0] if os.path.isdir(d) else set()
            before_bytes = dir_bytes(d)
        t0 = time.perf_counter()
        try:
            with tr.span(f"sources.{fmt}", verb):
                out = fn(*args, d)
        except Exception as exc:  # counted, never fatal: the run reports it
            traceback.print_exc()
            ctx.fail("lake_upsert", f"{fmt}.{verb}", f"{type(exc).__name__}: {exc}"[:300])
            return None
        ms = (time.perf_counter() - t0) * 1e3
        st = stats[fmt]
        st["calls"].append((verb, ms))
        if not ctx.trace:
            return ms, out
        after_files, n_del = _lake_files(fmt, d)
        st["files_added"] += len(after_files - before_files)
        st["files_removed"] += len(before_files - after_files)
        if verb == "merge":
            st["merge_written_bytes"] += max(0, dir_bytes(d) - before_bytes)
            st["source_bytes"] += source_bytes
        st["delete_files"] = n_del
        if isinstance(out, dict) and isinstance(out.get("version"), int):
            last = st.get("version")
            if last is not None and out["version"] > last + 1:
                st["version_gaps"] += out["version"] - last - 1
            st["version"] = out["version"]
        return ms, out

    with ctx.timed("lake_upsert"):
        for fmt in dirs:
            res = call(fmt, "write", verbs[fmt]["write"], base)
            if res:
                ctx.op("lake_upsert", f"{fmt}.write", res[0], True)

        mu = rng.choice(uids, MERGE_USERS, replace=False)
        src = pd.DataFrame({"uid": np.repeat(mu, 3).astype("int64"),
                            "rk": np.tile(np.arange(3), len(mu)).astype("int32"),
                            "pid": rng.integers(0, 1_000_000, 3 * len(mu)).astype("int64")})
        src_df = spark.createDataFrame(src, schema)
        src_bytes = pa.Table.from_pandas(src, preserve_index=False).nbytes
        du = rng.choice(uids, DELETE_USERS, replace=False)
        cond = f"uid IN ({', '.join(str(int(u)) for u in sorted(du))})"
        ru = rng.choice(uids, READ_USERS, replace=False)
        for fmt in dirs:
            res = call(fmt, "merge", verbs[fmt]["merge"], src_df, source_bytes=src_bytes)
            if res:
                ctx.op("lake_upsert", f"{fmt}.merge", res[0], True)
        model = _frame(pd.concat([
            model.merge(src[["uid", "rk"]], on=["uid", "rk"], how="left", indicator=True)
                 .query("_merge == 'left_only'").drop(columns="_merge"),
            src]))
        for fmt in dirs:
            res = call(fmt, "delete", verbs[fmt]["delete"], cond)
            if res:
                ctx.op("lake_upsert", f"{fmt}.delete", res[0], True)
        model = _frame(model[~model["uid"].isin(du)])
        want = _frame(model[model["uid"].isin(ru)])
        for fmt in dirs:
            if ctx.trace:
                files, n_del = _lake_files(fmt, dirs[fmt])
                stats[fmt]["point_files"].append(len(files) + n_del)
            res = call(fmt, "read",
                       lambda d, fmt=fmt: verbs[fmt]["read"](d).filter(
                           F.col("uid").isin([int(u) for u in ru])).toPandas())
            if res:
                stats[fmt]["point_rows"] += len(res[1])
                reads.append((fmt, f"{fmt}.read", res, want))

        for fmt in dirs:
            if ctx.trace:
                stats[fmt]["table_bytes_before_compaction"] = dir_bytes(dirs[fmt])
                stats[fmt]["delete_files_before_compaction"] = stats[fmt].get("delete_files", 0)
            res = call(fmt, "compact", verbs[fmt]["compact"])
            if res:
                ctx.op("lake_upsert", f"{fmt}.compact", res[0], True)
        for fmt in dirs:
            res = call(fmt, "full_read", lambda d, fmt=fmt: verbs[fmt]["read"](d).toPandas())
            if res:
                reads.append((fmt, f"{fmt}.full_read", res, model))

    # ---- correctness: every read equals the replay of merges and deletes
    for fmt, name, (ms, got), want in reads:
        ok = _frame(got.astype({"uid": "int64", "rk": "int32", "pid": "int64"})).equals(
            want.astype({"uid": "int64", "rk": "int32", "pid": "int64"}).reset_index(drop=True))
        ctx.op("lake_upsert", name, ms, ok, "" if ok else "read != replay")

    live_bytes = pa.Table.from_pandas(model, preserve_index=False).nbytes
    for fmt in dirs:
        st = stats[fmt]
        st["live_bytes"] = live_bytes
        ms_of = lambda verb: [ms for v, ms in st["calls"] if v == verb]  # noqa: E731
        commits = ms_of("merge") + ms_of("delete")
        ctx.named[f"{fmt}_commit_ms"] = (percentile(commits, 50), "ms")
        rd = ms_of("read")
        ctx.named[f"{fmt}_read_ms"] = (percentile(rd, 50), "ms")
    ctx.notes["lake"] = stats
