"""Round-12 PARTITION-SCOPED OVERWRITE (`replace_where`): the daily
partition-reload pattern — one atomic commit replaces exactly the
named partitions' files, everything else untouched.  The predicate
must be exactly partition-expressible (refused loudly otherwise) and
the staged data is validated to land only inside the named
partitions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    snapshot,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    parse_replace_where,
)


def _mk(spark, tbl):
    df = spark.range(0, 300).selectExpr(
        "id",
        "CASE WHEN id < 100 THEN 'd1' WHEN id < 200 THEN 'd2' "
        "ELSE 'd3' END AS dt",
    )
    write_delta(df, tbl, partition_by=["dt"])


def test_replace_where_reloads_one_partition(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    _mk(spark, tbl)
    before = snapshot(tbl)
    d1_files = {p for p, v in before["partition_values"].items()
                if v["dt"] == "d1"}
    reload_df = spark.range(1000, 1050).selectExpr(
        "id", "'d1' AS dt"
    ).coalesce(1)
    res = write_delta(reload_df, tbl, mode="overwrite",
                      partition_by=["dt"], replace_where="dt = 'd1'")
    assert res["n_removed"] == len(d1_files)
    after = snapshot(tbl)
    # other partitions byte-identical
    for p, v in before["partition_values"].items():
        if v["dt"] != "d1":
            assert after["live"][p] == before["live"][p]
    assert not (d1_files & set(after["live"]))
    import os

    rows = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(after["live"])]
    ).count()
    assert rows == 200 + 50


def test_replace_where_in_list(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    _mk(spark, tbl)
    reload_df = spark.range(0, 10).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'd1' ELSE 'd3' END AS dt"
    ).coalesce(1)
    res = write_delta(reload_df, tbl, mode="overwrite",
                      partition_by=["dt"],
                      replace_where="dt IN ('d1', 'd3')")
    assert res["n_removed"] >= 2
    after = snapshot(tbl)
    kept_d2 = [p for p, v in after["partition_values"].items()
               if v["dt"] == "d2"]
    assert kept_d2
    import os

    rows = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(after["live"])]
    ).count()
    assert rows == 100 + 10


def test_replace_where_refuses_stray_rows(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    _mk(spark, tbl)
    before = snapshot(tbl)
    stray_df = spark.range(0, 10).selectExpr(
        "id", "CASE WHEN id < 5 THEN 'd1' ELSE 'd2' END AS dt"
    ).coalesce(1)
    with pytest.raises(ValueError, match="outside the named"):
        write_delta(stray_df, tbl, mode="overwrite",
                    partition_by=["dt"], replace_where="dt = 'd1'")
    # nothing changed, no orphans referenced
    assert snapshot(tbl)["live"] == before["live"]


def test_replace_where_refuses_loose_predicates(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    _mk(spark, tbl)
    df = spark.range(0, 5).selectExpr("id", "'d1' AS dt").coalesce(1)
    for bad in ("dt = 'd1' OR dt = 'd2'",   # disjunction
                "id < 100",                  # non-partition column
                "dt LIKE 'd%'",              # non-equality
                "upper(dt) = 'D1'"):         # expression
        with pytest.raises(ValueError):
            write_delta(df, tbl, mode="overwrite",
                        partition_by=["dt"], replace_where=bad)
    with pytest.raises(ValueError, match="overwrite"):
        write_delta(df, tbl, replace_where="dt = 'd1'")  # append mode


def test_parse_replace_where_typed_spellings():
    got = parse_replace_where(
        "p = 3 AND dt IN ('a', 'b')", {"p", "dt"},
        {"p": "long", "dt": "string"},
    )
    assert got == {"p": {"3"}, "dt": {"a", "b"}}
    with pytest.raises(ValueError, match="cannot be matched"):
        parse_replace_where("p = 'x'", {"p"}, {"p": "long"})
    with pytest.raises(ValueError, match="not a partition column"):
        parse_replace_where("q = 1", {"p"}, {"p": "long", "q": "long"})


# ---------------------------------------------------------------------------
# the format-#2 twin
# ---------------------------------------------------------------------------

def test_iceberg_replace_where_reloads_one_partition(spark, tmp_path):
    import os

    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        read_table,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 300).selectExpr(
        "id",
        "CASE WHEN id < 100 THEN 'd1' WHEN id < 200 THEN 'd2' "
        "ELSE 'd3' END AS dt",
    )
    write_iceberg(df, tbl, partition_by=["dt"])
    before = read_table(tbl)
    d1_files = {p for p, v in before["partition_values"].items()
                if v["dt"] == "d1"}
    res = write_iceberg(
        spark.range(1000, 1050).selectExpr("id", "'d1' AS dt")
        .coalesce(1),
        tbl, mode="overwrite", partition_by=["dt"],
        replace_where="dt = 'd1'",
    )
    assert res["n_removed"] == len(d1_files)
    assert res["n_manifests_reused"] >= 1
    after = read_table(tbl)
    for p, v in before["partition_values"].items():
        if v["dt"] != "d1":
            assert after["live"][p] == before["live"][p]
    assert not (d1_files & set(after["live"]))
    rows = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(after["live"])]
    ).count()
    assert rows == 200 + 50
    # time travel to the pre-reload snapshot intact
    old = read_table(tbl, snapshot_id=before["snapshot_id"])
    assert old["live"] == before["live"]


def test_iceberg_replace_where_refuses_stray_and_loose(spark, tmp_path):
    import pytest as _pytest

    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        read_table,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr("id", "id % 2 as p")
    write_iceberg(df, tbl, partition_by=["p"])
    before = read_table(tbl)
    with _pytest.raises(ValueError, match="outside the named"):
        write_iceberg(
            spark.range(0, 10).selectExpr("id", "id % 2 as p"),
            tbl, mode="overwrite", partition_by=["p"],
            replace_where="p = 0",
        )
    with _pytest.raises(ValueError):
        write_iceberg(
            spark.range(0, 10).selectExpr("id", "0 as p"),
            tbl, mode="overwrite", partition_by=["p"],
            replace_where="p = 0 OR p = 1",
        )
    assert read_table(tbl)["live"] == before["live"]
