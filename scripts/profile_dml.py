#!/usr/bin/env python3
"""Profile the Delta/Iceberg DML verb job chains (round-16 item #2).

Builds throwaway tables from sf0.1 documents (the same shapes the
fixture builders use), runs delete/merge verbs with per-helper timing
and statusTracker job counts, and prints a phase table.  Dev tooling —
not part of the engine or bench.
"""
from __future__ import annotations

import functools
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hainan_big_data_recommend_system_spark.session import get_spark  # noqa: E402
from hainan_big_data_recommend_system_spark.qcatalog.relational import (  # noqa: E402
    load_table,
)
from hainan_big_data_recommend_system_spark.sources import delta_sink as ds  # noqa: E402
from hainan_big_data_recommend_system_spark.sources import iceberg_sink as ice  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PHASES: list[tuple[str, float]] = []


def timed(mod, name):
    fn = getattr(mod, name)

    @functools.wraps(fn)
    def wrap(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            PHASES.append((f"{mod.__name__.split('.')[-1]}.{name}",
                           time.perf_counter() - t0))

    setattr(mod, name, wrap)


for nm in ("_build_dv_updates", "_stage_cdc_files", "_stage_data_files",
           "snapshot", "_scan_with_positions", "_prune_dml_paths",
           "_dead_positions_df"):
    timed(ds, nm)
for nm in ("_alive_rows_with_positions", "_prev_state",
           "_stage_position_delete_files", "_scan_with_positions",
           "_prune_dml_paths"):
    timed(ice, nm)


def run(label, sc, fn):
    PHASES.clear()
    sc.setJobGroup(label, label)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    jobs = sc.statusTracker().getJobIdsForGroup(label)
    print(f"\n== {label}: {dt:.2f}s, {len(jobs)} jobs ==")
    for ph, d in PHASES:
        print(f"   {ph:45s} {d:6.2f}s")
    sc.setJobGroup(None, None)
    return out


def main():
    spark = get_spark(app_name="profile_dml")
    sc = spark.sparkContext
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.col("text").alias("body")
    )
    docs.count()  # warm scan

    base = "/tmp/profile-dml"
    shutil.rmtree(base, ignore_errors=True)

    # --- Delta: the delta_cdf fixture shape (write + delete + merge) ---
    t_delta = os.path.join(base, "delta")
    run("delta_write", sc, lambda: ds.write_delta(docs, t_delta))
    run("delta_delete", sc, lambda: ds.delete_where_delta(
        spark, t_delta, "doc_id % 7 = 3"))
    merged_src = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "body", F.concat(F.col("body"), F.lit("-v2")))
    run("delta_merge", sc, lambda: ds.merge_delta(
        spark, merged_src, t_delta, ["doc_id"]))

    # --- Delta: clause merge (the merge_clauses fixture shape) ---
    t_dc = os.path.join(base, "delta_clauses")
    run("delta_write2", sc, lambda: ds.write_delta(docs, t_dc))
    cdc = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("body", F.concat(F.col("body"), F.lit("-v2")))
        .withColumn("_op", F.when(F.col("doc_id") % 3 == 0,
                                  F.lit("delete")).otherwise(F.lit("up")))
    )
    run("delta_merge_clauses", sc, lambda: ds.merge_delta(
        spark, cdc, t_dc, ["doc_id"],
        matched_delete="_op = 'delete'",
        not_matched_insert="_op <> 'delete'"))

    # --- Iceberg: lifecycle fixture shape ---
    t_ice = os.path.join(base, "ice")
    run("ice_write", sc, lambda: ice.write_iceberg(docs, t_ice))
    run("ice_delete", sc, lambda: ice.delete_where_iceberg(
        spark, t_ice, "doc_id % 7 = 3"))
    run("ice_merge", sc, lambda: ice.merge_iceberg(
        spark, merged_src, t_ice, ["doc_id"]))

    spark.stop()


if __name__ == "__main__":
    main()
