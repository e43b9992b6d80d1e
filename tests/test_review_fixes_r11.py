"""Regression pins for the round-11 self-review findings — each test
fails under the pre-fix behavior.
"""

from __future__ import annotations

import glob
import os

import pytest

from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    delete_where_delta,
    merge_delta,
    snapshot,
    update_where_delta,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
    delete_where_iceberg,
    merge_iceberg,
    read_table,
    rollback_iceberg,
    write_iceberg,
)


def test_bloom_int32_columns_hash_at_their_width(spark, tmp_path):
    """An INT32 column's filter hashes 4-byte plain encodings — an
    8-byte probe would false-negative every present value and wrongly
    prune the file holding it."""
    from hainan_big_data_recommend_system_spark.operators.bloom import (
        bloom_might_contain_file,
    )

    d = str(tmp_path / "p")
    (
        spark.range(0, 500)
        .selectExpr("CAST(id AS INT) AS small")
        .coalesce(1)
        .write.option("parquet.bloom.filter.enabled#small", "true")
        .mode("overwrite").parquet(d)
    )
    (pf,) = glob.glob(os.path.join(d, "part-*.parquet"))
    for i in (0, 7, 123, 499):
        assert bloom_might_contain_file(pf, "small", i) is True
    # a value outside int32's range cannot exist: proven absent, and
    # it must raise ValueError-only per the fleet contract, never
    # struct.error
    assert bloom_might_contain_file(pf, "small", 2**40) is False
    from hainan_big_data_recommend_system_spark.operators.bloom import (
        plain_encode,
    )

    assert plain_encode(2**63, "INT64") is None  # out of range: absent
    with pytest.raises(ValueError):
        plain_encode(1, "DOUBLE")


def test_iceberg_append_schema_is_enforced(spark, tmp_path):
    """A reordered APPEND is refused (the manifest bounds and
    equality_ids it would stamp are keyed by field id, so a silent
    positional remap corrupts them).  An OVERWRITE may reorder — and
    since round 15 field ids resolve by NAME against the recorded
    schema (never positionally; tests/test_rename_property.py pins the
    full lifecycle), the surviving columns KEEP their ids across the
    overwrite: id stays 1 and v stays 2 whatever order they arrive in."""
    tbl = str(tmp_path / "tbl")
    write_iceberg(spark.range(3).selectExpr("id", "id AS v")
                  .coalesce(1), tbl)
    reordered = spark.range(3, 6).selectExpr("id AS v", "id")
    with pytest.raises(ValueError, match="positional"):
        write_iceberg(reordered.coalesce(1), tbl)
    with pytest.raises(ValueError, match="positional"):
        merge_iceberg(spark, reordered.coalesce(1), tbl, ["id"])
    # overwrite may change the schema; ids are name-stable
    write_iceberg(reordered.coalesce(1), tbl, mode="overwrite")
    assert read_table(tbl)["field_names"] == {1: "id", 2: "v"}


def test_iceberg_metadata_rewrites_preserve_field_types(spark, tmp_path):
    """A delete/rollback metadata rewrite must carry the recorded
    TYPES — clobbering them to 'string' would misdecode every int
    bound and silently kill data skipping."""
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        prune_live_files,
    )

    tbl = str(tmp_path / "tbl")
    for k in range(3):
        write_iceberg(
            spark.range(k * 100, (k + 1) * 100).selectExpr("id")
            .coalesce(1).sortWithinPartitions("id"), tbl,
        )
    delete_where_iceberg(spark, tbl, "id = 5")
    rollback_iceberg(tbl, snapshot_id=read_table(tbl)["snapshot_id"])
    snap = read_table(tbl)
    # bounds still decode as ints and still prune
    assert all(
        isinstance(st["minValues"]["id"], int)
        for st in snap["file_stats"].values()
    )
    pr = prune_live_files(snap, "id", lo=250, hi=260)
    assert pr["n_kept"] == 1 and pr["n_no_stats"] == 0


def test_delta_append_partition_layout_is_enforced(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, cat string") \
        .coalesce(1)
    write_delta(df, tbl, partition_by=["cat"])
    with pytest.raises(ValueError, match="partition columns"):
        write_delta(df, tbl)  # flat append into a partitioned table
    with pytest.raises(ValueError, match="partition columns"):
        write_delta(df, tbl, partition_by=["id"])
    # the matching layout still appends
    write_delta(df, tbl, partition_by=["cat"])
    assert snapshot(tbl)["live_rows"] == 2


def test_update_assignments_are_simultaneous(spark, tmp_path):
    """SQL UPDATE evaluates all right-hand sides against the
    PRE-update row: {'a': 'b', 'b': 'a'} swaps."""
    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 10).selectExpr("id", "id AS a", "id * 100 AS b")
        .coalesce(1), tbl,
    )
    update_where_delta(spark, tbl, "id = 3", {"a": "b", "b": "a"},
                       change_data=False)
    import hainan_big_data_recommend_system_spark.sources.delta_sink as ds
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        resolve_deletion_vector,
    )

    snap = snapshot(tbl)
    dead = {
        ds._abs_uri(tbl, p): set(resolve_deletion_vector(
            d, lambda q: open(os.path.join(tbl, q), "rb").read()
        ))
        for p, d in snap["deletion_vectors"].items()
    }
    rows = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"), "id", "a", "b",
    ).collect()
    got = {r["id"]: (r["a"], r["b"]) for r in rows
           if r["ri"] not in dead.get(r["fp"], ())}
    assert got[3] == (300, 3)  # swapped, not copied


def test_merge_prunes_boolean_partitions_correctly(spark, tmp_path):
    """Partition dirs print booleans lowercase ('flag=true'); a prune
    keyed off Python str(True) would miss the partition and leave
    duplicate keys."""
    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, i % 2 == 0, i) for i in range(10)],
        "id long, flag boolean, v long",
    ).coalesce(1)
    write_delta(base, tbl, partition_by=["flag"])
    src = spark.createDataFrame(
        [(0, True, -1)], "id long, flag boolean, v long"
    ).coalesce(1)
    res = merge_delta(spark, src, tbl, ["flag", "id"],
                      change_data=False)
    assert res["n_rows_updated"] == 1  # the old row WAS tombstoned
    assert res["n_files_touched"] == 1


def test_iceberg_delete_ignores_equality_dead_rows(spark, tmp_path):
    """Rows tombstoned by a live equality delete are not rows: a
    later DELETE must not re-count them."""
    tbl = str(tmp_path / "tbl")
    write_iceberg(spark.range(0, 20).selectExpr("id", "id AS v")
                  .coalesce(1), tbl)
    merge_iceberg(
        spark,
        spark.range(0, 5).selectExpr("id", "-id AS v").coalesce(1),
        tbl, ["id"],
    )
    # ids 0..4's OLD rows (v=0..4) are equality-dead and must NOT
    # count; the matches are live ids 5..9 plus id 0's NEW row (v=0)
    # — a reader that scanned equality-dead rows would report 10
    res = delete_where_iceberg(spark, tbl, "v >= 0 AND id < 10")
    assert res["n_rows_deleted"] == 6


def test_string_bounds_truncate_like_real_writers(spark, tmp_path):
    """Free-text columns must not embed whole documents into the
    metadata: bounds truncate to a 32-char prefix (min) / incremented
    prefix (max) and pruning stays conservative."""
    import json as _json

    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        prune_live_files,
    )
    from hainan_big_data_recommend_system_spark.sources.lake_core import (
        _truncate_upper,
    )

    assert _truncate_upper("abc", 32) == "abc"
    assert _truncate_upper("a" * 100, 4) == "aaab"
    assert _truncate_upper("ab" + chr(0x10FFFF) * 40, 3) == "ac"

    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 50).selectExpr(
            "id", "repeat(concat('text-', id), 20) AS body"
        ).coalesce(1),
        tbl,
    )
    st = list(snapshot(tbl)["file_stats"].values())[0]
    assert len(st["minValues"]["body"]) <= 32
    assert len(st["maxValues"]["body"]) <= 33
    # the add action itself stays small
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        read_log_commits,
    )

    assert len(read_log_commits(tbl)[0]) < 4000
    # truncated bounds still prune CONSERVATIVELY: a probe inside the
    # true range is kept, one past the truncated max is skipped
    snap = snapshot(tbl)
    assert prune_live_files(snap, "body", lo="text-3")["n_kept"] == 1
    assert prune_live_files(snap, "body", lo="tfzz")["n_skipped"] == 1


def test_iceberg_append_type_change_is_refused(spark, tmp_path):
    """Same names but a changed TYPE would silently remap how every
    existing manifest bound decodes — refused like a rename."""
    tbl = str(tmp_path / "tbl")
    write_iceberg(
        spark.range(3).selectExpr("id", "CAST(id AS STRING) AS day")
        .coalesce(1), tbl,
    )
    retyped = spark.range(3, 6).selectExpr("id", "id AS day")
    with pytest.raises(ValueError, match="positional"):
        write_iceberg(retyped.coalesce(1), tbl)


def test_bloom_unresolvable_column_type_keeps_file():
    """A bloom offset whose column type cannot be resolved must keep
    the file (no proof), never guess a width and fabricate absence."""
    from hainan_big_data_recommend_system_spark.operators import bloom

    meta = {"bloom_offsets": [{"rg": 0, "col": "user", "offset": 4}],
            "n_row_groups": 1,
            "column_names": ["user.id"],  # flattened leaf ≠ path[0]
            "physical_types": ["INT32"]}
    import unittest.mock as mock

    with mock.patch.object(bloom, "xxhash64") as xh, \
            mock.patch(
                "hainan_big_data_recommend_system_spark.operators."
                "parquetfmt.parse_footer_tail", return_value=meta
            ), mock.patch(
                "hainan_big_data_recommend_system_spark.operators."
                "parquetfmt.read_footer_tail", return_value=b""
            ), mock.patch("builtins.open", mock.mock_open(read_data=b"")):
        assert bloom.bloom_might_contain_file("/nope", "user", 5) is True
        xh.assert_not_called()
