"""The nullCount data-skipping lever (round 13): the sink records the
spec's ``add.stats.nullCount`` per column from the hand-parsed footer,
and ``IS NULL`` / ``IS NOT NULL`` conjuncts prune — a file recording
ZERO nulls cannot satisfy IS NULL; an all-null file cannot satisfy
IS NOT NULL.  Files without the stat are kept (no proof, must scan).
"""

from __future__ import annotations

import json
import os

import pytest

from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    delete_where_delta,
    read_delta_table,
    snapshot,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _prune_dml_paths,
    analyze_condition,
)


def _three_file_table(spark, tmp_path):
    """File A: no nulls; file B: some nulls; file C: all-null v."""
    tbl = str(tmp_path / "nulls")
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z"), (4, None)],
                              "id long, v string")
    c = spark.createDataFrame([(5, None), (6, None)],
                              "id long, v string")
    for df in (a, b, c):
        write_delta(df.coalesce(1), tbl)
    return tbl


class TestAnalyzeCondition:
    def test_is_null_parsed(self):
        cons = analyze_condition("v IS NULL AND id >= 3")
        assert cons["v"]["null"] is True
        assert cons["id"]["lo"] == 3

    def test_is_not_null_parsed(self):
        cons = analyze_condition("v IS NOT NULL")
        assert cons["v"]["null"] is False


class TestNullCountRecorded:
    def test_add_stats_carry_null_counts(self, spark, tmp_path):
        tbl = _three_file_table(spark, tmp_path)
        snap = snapshot(tbl)
        per_file = sorted(
            st["nullCount"]["v"]
            for st in snap["file_stats"].values()
            if "nullCount" in st
        )
        assert per_file == [0, 1, 2]
        # the all-null file has NO v bounds but still a null count
        all_null = [
            st for st in snap["file_stats"].values()
            if st.get("nullCount", {}).get("v") == 2
        ][0]
        assert "v" not in (all_null.get("minValues") or {})


class TestPruning:
    def test_is_null_skips_null_free_files(self, spark, tmp_path):
        tbl = _three_file_table(spark, tmp_path)
        snap = snapshot(tbl)
        paths, counts = _prune_dml_paths(tbl, snap, "v IS NULL")
        assert counts["n_null_skipped"] == 1  # file A
        kept_nulls = [
            snap["file_stats"][p]["nullCount"]["v"] for p in paths
        ]
        assert 0 not in kept_nulls

    def test_is_not_null_skips_all_null_files(self, spark, tmp_path):
        tbl = _three_file_table(spark, tmp_path)
        snap = snapshot(tbl)
        paths, counts = _prune_dml_paths(tbl, snap, "v IS NOT NULL")
        assert counts["n_null_skipped"] == 1  # file C
        assert all(
            snap["file_stats"][p]["nullCount"]["v"] < 2 for p in paths
        )

    def test_delete_where_is_null_end_to_end(self, spark, tmp_path):
        tbl = _three_file_table(spark, tmp_path)
        res = delete_where_delta(spark, tbl, "v IS NULL")
        assert res["n_rows_deleted"] == 3
        got = sorted(r["id"] for r in
                     read_delta_table(spark, tbl).collect())
        assert got == [1, 2, 3]

    def test_combined_with_range(self, spark, tmp_path):
        tbl = _three_file_table(spark, tmp_path)
        res = delete_where_delta(spark, tbl,
                                 "v IS NULL AND id >= 5")
        assert res["n_rows_deleted"] == 2
        got = sorted(r["id"] for r in
                     read_delta_table(spark, tbl).collect())
        assert got == [1, 2, 3, 4]


class TestNestedNullStatsSkipped:
    def test_struct_leaf_nulls_not_attributed_to_root(
            self, spark, tmp_path):
        """ADVICE r13 low: a struct column ``a: struct<b>`` whose
        every ``a`` is non-null but every ``a.b`` is null must NOT
        record ``nullCount['a'] = nulls(a.b)`` — that would let the
        IS NOT NULL lever skip a file full of matching rows.  Nested
        leaves (path_in_schema longer than 1) are out of stats scope;
        the file simply carries no 'a' nullCount and is kept."""
        tbl = str(tmp_path / "nested")
        df = spark.createDataFrame(
            [(1, (None,)), (2, (None,))],
            "id long, a struct<b: string>")
        write_delta(df.coalesce(1), tbl)
        snap = snapshot(tbl)
        (st,) = snap["file_stats"].values()
        assert "a" not in (st.get("nullCount") or {})
        # no proof -> no pruning: the single file stays a candidate
        paths, counts = _prune_dml_paths(tbl, snap, "a IS NOT NULL")
        assert counts["n_null_skipped"] == 0
        assert len(paths) == 1
        res = delete_where_delta(spark, tbl, "a IS NOT NULL")
        assert res["n_rows_deleted"] == 2


class TestIcebergNullCounts:
    """Format #2 parity (round 14, VERDICT r13 next-round #3): the
    sink stamps spec manifest field 110 ``null_value_counts`` from
    the same hand footer reads, the reader decodes them into the
    shared ``file_stats`` shape, and the SAME IS [NOT] NULL lever
    prunes Iceberg DML scans."""

    def _table(self, spark, tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
            write_iceberg,
        )

        tbl = str(tmp_path / "inulls")
        a = spark.createDataFrame([(1, "x"), (2, "y")],
                                  "id long, v string")
        b = spark.createDataFrame([(3, "z"), (4, None)],
                                  "id long, v string")
        c = spark.createDataFrame([(5, None), (6, None)],
                                  "id long, v string")
        for df in (a, b, c):
            write_iceberg(df.coalesce(1), tbl)
        return tbl

    def test_manifest_carries_null_counts(self, spark, tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
            _prev_state,
        )

        tbl = self._table(spark, tmp_path)
        st = _prev_state(tbl)
        got = sorted(
            (s.get("nullCount") or {}).get("v")
            for s in st["file_stats"].values()
        )
        assert got == [0, 1, 2]
        # the all-null file has NO v bounds but still a null count
        assert any(
            "v" not in (s.get("minValues") or {})
            and s.get("nullCount", {}).get("v") == 2
            for s in st["file_stats"].values()
        )

    def test_is_null_prunes_kept_skipped_pinned(self, spark, tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
            _declared_types,
            _prev_state,
        )

        tbl = self._table(spark, tmp_path)
        st = _prev_state(tbl)
        paths, counts = _prune_dml_paths(
            tbl, st, "v IS NULL", declared=_declared_types(st))
        assert counts["n_null_skipped"] == 1  # the null-free file
        assert len(paths) == 2
        paths, counts = _prune_dml_paths(
            tbl, st, "v IS NOT NULL", declared=_declared_types(st))
        assert counts["n_null_skipped"] == 1  # the all-null file
        assert len(paths) == 2

    def test_delete_where_is_null_end_to_end(self, spark, tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
            delete_where_iceberg,
            read_iceberg_table,
        )

        tbl = self._table(spark, tmp_path)
        res = delete_where_iceberg(spark, tbl, "v IS NULL")
        assert res["n_rows_deleted"] == 3
        got = sorted(
            r["id"] for r in read_iceberg_table(spark, tbl).collect())
        assert got == [1, 2, 3]

    def test_rewrite_manifests_preserves_null_counts(
            self, spark, tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
            _prev_state,
            rewrite_manifests_iceberg,
        )

        tbl = self._table(spark, tmp_path)
        before = {
            p: s.get("nullCount")
            for p, s in _prev_state(tbl)["file_stats"].items()
        }
        rewrite_manifests_iceberg(tbl)
        after = {
            p: s.get("nullCount")
            for p, s in _prev_state(tbl)["file_stats"].items()
        }
        assert after == before


def test_iceberg_pruning_soundness_randomized(spark, tmp_path):
    """PROPERTY (round 14 — both formats): for any condition, every
    Iceberg file holding at least one matching row SURVIVES
    `_prune_dml_paths` with the manifest-decoded stats (bounds +
    null_value_counts).  Pruning may keep too much, never too
    little."""
    import os
    import random

    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (  # noqa: E501
        _declared_types,
        _prev_state,
        write_iceberg,
    )

    tbl = str(tmp_path / "itbl")
    df = spark.range(0, 400).selectExpr(
        "id",
        "cast(id % 7 as string) AS tag",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id % 7 as string) "
        "END AS ntag",
    ).repartition(8)
    write_iceberg(df, tbl)
    st = _prev_state(tbl)
    declared = _declared_types(st)
    rng = random.Random(0xBEEF)

    def gen_atom():
        kind = rng.randrange(8)
        k = rng.randrange(0, 450)
        if kind == 0:
            return f"id = {k}"
        if kind == 1:
            op = rng.choice(["<", "<=", ">", ">="])
            return f"id {op} {k}"
        if kind == 2:
            vals = ", ".join(str(rng.randrange(0, 450))
                             for _ in range(3))
            return f"id IN ({vals})"
        if kind == 3:
            return f"tag = '{rng.randrange(0, 9)}'"
        if kind == 4:
            return "ntag IS NULL"
        if kind == 5:
            return "ntag IS NOT NULL"
        if kind == 6:
            return f"id % {rng.randrange(2, 5)} = 1"  # unreadable
        return f"id = '{k}'"  # cross-type literal

    scan = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(st["live"])]
    ).select(F.col("_metadata.file_path").alias("fp"),
             "id", "tag", "ntag")
    from hainan_big_data_recommend_system_spark.sources import delta_sink

    abs_of = {delta_sink._abs_uri(tbl, p): p for p in st["live"]}
    for _ in range(20):
        n = rng.randrange(1, 4)
        joiner = " OR " if rng.random() < 0.25 else " AND "
        cond = joiner.join(gen_atom() for _ in range(n))
        kept, _ = _prune_dml_paths(tbl, st, cond, declared=declared)
        must_keep = {
            abs_of[r["fp"]]
            for r in scan.filter(cond).select("fp").distinct().collect()
        }
        missing = must_keep - set(kept)
        assert not missing, (
            f"condition {cond!r} pruned files with matches: {missing}"
        )
