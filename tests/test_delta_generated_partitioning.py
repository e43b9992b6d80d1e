"""Delta GENERATED-COLUMN partitioning (round 13) — the Delta twin of
Iceberg's hidden partitioning: ``write_delta(partition_by=["days(ts)"])``
derives ``ts_day`` as a generated column (expression recorded in the
schema field metadata under ``delta.generationExpression``), appends
inherit it, a ts-range DELETE prunes to the matching day partitions
through the shared transform lever, and an UPDATE that moves a
source value moves the row's partition.
"""

from __future__ import annotations

import datetime
import json

import pytest

from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    _generated_transforms,
    delete_where_delta,
    merge_delta,
    read_delta_table,
    snapshot,
    update_where_delta,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _prune_dml_paths,
)


def _day_table(spark, tmp_path, name, days=5, per_day=6):
    tbl = str(tmp_path / name)
    rows = [
        (i, datetime.datetime(2026, 1, 1 + i % days, 9, 0, 0), f"v{i}")
        for i in range(days * per_day)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v string")
    write_delta(df, tbl, partition_by=["days(ts)"])
    return tbl


class TestWriteAndInherit:
    def test_generation_expression_recorded(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g1")
        snap = snapshot(tbl)
        fields = {
            f["name"]: f
            for f in json.loads(snap["schema_json"])["fields"]
        }
        assert fields["ts_day"]["metadata"][
            "delta.generationExpression"
        ] == "date_format(ts, 'yyyy-MM-dd')"
        assert _generated_transforms(snap) == [
            {"name": "ts_day", "transform": "day", "source": "ts",
             "param": None}
        ]
        assert snap["partition_columns"] == ["ts_day"]
        # the layout is Hive dirs on the DERIVED value
        assert all(
            set(v) == {"ts_day"}
            for v in snap["partition_values"].values()
        )

    def test_append_inherits_generated_columns(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g2")
        more = spark.createDataFrame(
            [(900, datetime.datetime(2026, 2, 7, 1, 0, 0), "x")],
            "id long, ts timestamp, v string")
        res = write_delta(more, tbl)  # no layout named: inherited
        assert res["n_files"] == 1
        snap = snapshot(tbl)
        assert any(v["ts_day"] == "2026-02-07"
                   for v in snap["partition_values"].values())

    def test_reader_returns_generated_column(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g3")
        got = read_delta_table(spark, tbl)
        assert got.columns == ["id", "ts", "v", "ts_day"]
        row = got.filter("id = 0").collect()[0]
        assert row["ts_day"] == "2026-01-01"

    def test_bucket_refused_on_delta(self, spark, tmp_path):
        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="Iceberg sink's transform"):
            write_delta(df, str(tmp_path / "b"),
                        partition_by=["bucket(8, id)"])


class TestPruningAndDml:
    def test_ts_range_delete_prunes_days(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g4")
        snap = snapshot(tbl)
        paths, counts = _prune_dml_paths(
            tbl, snap, "ts >= '2026-01-02' AND ts < '2026-01-03'",
            transforms=_generated_transforms(snap),
        )
        kept_days = {
            snap["partition_values"][p]["ts_day"] for p in paths
        }
        assert "2026-01-01" not in kept_days
        assert "2026-01-02" in kept_days
        assert counts["n_partition_skipped"] > 0
        res = delete_where_delta(
            spark, tbl,
            "ts >= '2026-01-02 00:00:00' AND ts <= '2026-01-02 23:59:59'",
        )
        assert res["n_rows_deleted"] == 6
        assert read_delta_table(spark, tbl).count() == 24

    def test_update_moves_partition(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g5")
        res = update_where_delta(
            spark, tbl, "id = 0",
            {"ts": "timestamp'2026-03-01 00:00:00'"})
        assert res["n_rows_updated"] == 1
        snap = snapshot(tbl)
        assert any(v["ts_day"] == "2026-03-01"
                   for v in snap["partition_values"].values())
        row = read_delta_table(spark, tbl).filter("id = 0").collect()[0]
        assert row["ts_day"] == "2026-03-01"

    def test_assigning_generated_column_refused(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g6")
        with pytest.raises(ValueError, match="generated columns"):
            update_where_delta(spark, tbl, "id = 0",
                               {"ts_day": "'2027-01-01'"})

    def test_merge_derives_generated_columns(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "g7")
        src = spark.createDataFrame(
            [(0, datetime.datetime(2026, 4, 1, 0, 0, 0), "NEW"),
             (777, datetime.datetime(2026, 4, 2, 0, 0, 0), "ins")],
            "id long, ts timestamp, v string")
        res = merge_delta(spark, src, tbl, key_cols=["id"])
        assert res["n_rows_updated"] == 1
        got = read_delta_table(spark, tbl)
        by_id = {r["id"]: r["ts_day"] for r in got.collect()}
        assert by_id[0] == "2026-04-01"
        assert by_id[777] == "2026-04-02"
        # the recorded schema keeps the generation expression
        snap = snapshot(tbl)
        assert _generated_transforms(snap)


class TestTruncateGenerated:
    def test_int_truncate_partitioning(self, spark, tmp_path):
        tbl = str(tmp_path / "t1")
        df = spark.createDataFrame(
            [(i, i * 3) for i in range(40)], "id long, qty long")
        write_delta(df, tbl, partition_by=["truncate(50, qty)"])
        snap = snapshot(tbl)
        assert _generated_transforms(snap)[0]["transform"] == \
            "truncate[50]"
        paths, counts = _prune_dml_paths(
            tbl, snap, "qty = 60",
            transforms=_generated_transforms(snap),
        )
        assert all(
            snap["partition_values"][p]["qty_trunc"] == "50"
            for p in paths
        )
        assert counts["n_partition_skipped"] > 0
        res = delete_where_delta(spark, tbl, "qty = 60")
        assert res["n_rows_deleted"] == 1

    def test_string_truncate_partitioning(self, spark, tmp_path):
        tbl = str(tmp_path / "t2")
        df = spark.createDataFrame(
            [(i, f"{chr(97 + i % 3)}tail{i}") for i in range(30)],
            "id long, s string")
        write_delta(df, tbl, partition_by=["truncate(1, s)"])
        snap = snapshot(tbl)
        vals = {v["s_trunc"] for v in snap["partition_values"].values()}
        assert vals == {"a", "b", "c"}
        paths, counts = _prune_dml_paths(
            tbl, snap, "s = 'atail0'",
            transforms=_generated_transforms(snap),
        )
        assert all(
            snap["partition_values"][p]["s_trunc"] == "a" for p in paths
        )
        assert counts["n_partition_skipped"] > 0
