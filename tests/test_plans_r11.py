"""Physical-plan pins for the round-11 write paths: the partition
re-attach must be a broadcast hash join (never a nested loop or an
O(n_files) literal map), the DELETE match scan must stay
column-pruned, and the new lake driver rows must keep their
scale-invariant shapes.
"""

from __future__ import annotations

import pytest

import hainan_big_data_recommend_system_spark.qcatalog as qc
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _attach_partition_columns,
    _scan_with_positions,
)

SF_DIR = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    spec = qc.REGISTRY.get(name) or qc.EXTRA_REGISTRY[name]
    df = spec.fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_reattach_is_broadcast_hash_join(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(30)], "id long, cat string"
    ).coalesce(1)
    write_delta(df, tbl, partition_by=["cat"])
    from hainan_big_data_recommend_system_spark.sources.delta_sink import snapshot

    snap = snapshot(tbl)
    paths = sorted(snap["live"])
    out, cols = _attach_partition_columns(
        spark, _scan_with_positions(spark, tbl, paths),
        tbl, paths, snap["partition_values"], snap.get("schema_json"),
    )
    assert cols == ["cat"]
    plan = _plan(out.filter("cat = 'p1'"))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    # no O(n_files) literal map in the plan (the r10 create_map shape)
    assert "map_keys" not in plan and "CreateMap" not in plan, plan


def test_delete_match_scan_is_column_pruned(spark, tmp_path):
    """The DELETE position scan must read only the condition's columns
    (+ row position) — not the full row width."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 100).selectExpr(
            "id", "id AS a", "id AS b", "CAST(id AS STRING) AS wide"
        ).coalesce(1),
        tbl,
    )
    from hainan_big_data_recommend_system_spark.sources.delta_sink import snapshot

    snap = snapshot(tbl)
    paths = sorted(snap["live"])
    scan = _scan_with_positions(spark, tbl, paths)
    matched = scan.filter("id % 10 = 3").select("__fp", "__ri")
    plan = _plan(matched)
    # the scan reads the condition column + the metadata row index and
    # NOTHING else — a/b/wide are pruned out before the parquet reader
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "id:bigint" in read and "row_index" in read, plan
    for col in ("wide", "a:bigint", "b:bigint"):
        assert col not in read, plan
    assert "PushedFilters: [IsNotNull(id)" in plan, plan


@pytest.mark.parametrize("name", [
    "delta_dv_delete_roundtrip",
    "delta_partition_pruning",
    "iceberg_partition_pruning",
])
def test_lake_rows_have_no_python_udfs_or_nested_loops(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dv_delete_row_antijoin_is_broadcast(spark):
    plan = plan_of(spark, "delta_dv_delete_roundtrip")
    # the position anti-join streams the table side; the DV side
    # (O(dead rows of touched files), expanded on executors) broadcasts
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_iceberg_data_skipping_scans_only_kept_files(spark):
    """The pruned scan's FileScan must list 2 files, not 5 — pruning
    happens BEFORE the plan, from manifest metadata alone."""
    spec = qc.REGISTRY["iceberg_data_skipping"]
    df = spec.fn(spark, SF_DIR)
    plan = _plan(df)
    import re

    m = re.search(r"FileScan parquet.*?\[(\d+) paths?\]", plan)
    # Spark prints the path count in the scan's location; accept both
    # forms but require the kept-file property via the row values too
    rows = df.select("n_files_kept", "n_files_total").first()
    assert rows["n_files_kept"] == 2 and rows["n_files_total"] == 5
    if m:
        assert int(m.group(1)) == 2, plan
