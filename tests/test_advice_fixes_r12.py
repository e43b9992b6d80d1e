"""Round-13 regression pins for the round-12 ADVICE findings:

- high: stats/bloom DML pruning compared SQL literals against RAW
  physical INT64 parquet footer stats — for decimal(p<=18, s>0)
  columns those are UNSCALED ints (5.50 -> 550), so
  ``DELETE WHERE price = 5.50`` pruned the file that contained the
  match and silently deleted nothing; ``merge_delta``'s source-key
  min/max prune missed matches the same way (duplicated keys).  Both
  levers now gate on the DECLARED column type (int-family / string),
  exactly like partition pruning always did.
- medium: `_maybe_checkpoint` snapshotted AFTER the commit claim, so
  a concurrent writer's version+1 commit could be folded into a
  checkpoint named {version} — mislabeled history.  It now skips
  unless the snapshot's version is exactly the claimed one.
- low: IN-list parsing split on every comma, refusing valid literals
  like ``lang IN ('a,b','c')``; now quote-aware.
- low: Iceberg ``replace_where`` left fully-inapplicable position /
  equality delete files listed forever; both overwrite modes now
  tombstone them (status=2), mirroring `rewrite_data_files_iceberg`.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.sources import delta_sink
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    _maybe_checkpoint,
    delete_where_delta,
    merge_delta,
    snapshot,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _prune_dml_paths,
    _split_in_list,
    _stats_prunable,
    analyze_condition,
    parse_replace_where,
)
from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
    _posdel_targets,
    delete_where_iceberg,
    read_table,
    write_iceberg,
)


def _read_live_delta(spark, tbl):
    """Live rows with deletion vectors applied, via the repo reader."""
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        resolve_deletion_vector,
    )

    snap = snapshot(tbl)

    def fetch(p):
        return open(os.path.join(tbl, p), "rb").read()

    dead = {
        delta_sink._abs_uri(tbl, p): set(resolve_deletion_vector(d, fetch))
        for p, d in snap.get("deletion_vectors", {}).items()
    }
    if not snap["live"]:
        return []
    df = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).withColumn("__fp", F.col("_metadata.file_path")) \
     .withColumn("__ri", F.col("_metadata.row_index"))
    rows = []
    for r in df.collect():
        if r["__ri"] not in dead.get(r["__fp"], ()):
            rows.append(r)
    return rows


# ---------------------------------------------------------------- high


class TestDecimalStatsPruning:
    def _decimal_table(self, spark, tmp_path):
        tbl = str(tmp_path / "dec_tbl")
        lo = spark.createDataFrame(
            [(1, Decimal("5.50")), (2, Decimal("7.25"))],
            "id long, price decimal(10,2)",
        )
        hi = spark.createDataFrame(
            [(3, Decimal("900.00")), (4, Decimal("950.75"))],
            "id long, price decimal(10,2)",
        )
        write_delta(lo.coalesce(1), tbl)
        write_delta(hi.coalesce(1), tbl)
        return tbl

    def test_prune_keeps_decimal_file(self, spark, tmp_path):
        """min=max=550 (unscaled) must NOT prune lo=hi=5.5."""
        tbl = self._decimal_table(spark, tmp_path)
        snap = snapshot(tbl)
        paths, counts = _prune_dml_paths(tbl, snap, "price = 5.50")
        assert sorted(paths) == sorted(snap["live"])
        assert counts["n_stats_skipped"] == 0
        assert counts["n_bloom_skipped"] == 0

    def test_delete_where_decimal_equality(self, spark, tmp_path):
        tbl = self._decimal_table(spark, tmp_path)
        res = delete_where_delta(spark, tbl, "price = 5.50")
        assert res["n_rows_deleted"] == 1
        ids = sorted(r["id"] for r in _read_live_delta(spark, tbl))
        assert ids == [2, 3, 4]

    def test_delete_where_decimal_range(self, spark, tmp_path):
        tbl = self._decimal_table(spark, tmp_path)
        res = delete_where_delta(spark, tbl, "price < 10.0")
        assert res["n_rows_deleted"] == 2
        ids = sorted(r["id"] for r in _read_live_delta(spark, tbl))
        assert ids == [3, 4]

    def test_merge_decimal_key_updates(self, spark, tmp_path):
        """Pre-fix the Decimal-vs-int range prune skipped the matching
        target file, so the merge INSERTED a duplicate key."""
        tbl = str(tmp_path / "dec_merge")
        base = spark.createDataFrame(
            [(Decimal("5.50"), "old"), (Decimal("900.00"), "keep")],
            "price decimal(10,2), tag string",
        )
        write_delta(base.coalesce(1), tbl)
        src = spark.createDataFrame(
            [(Decimal("5.50"), "new")],
            "price decimal(10,2), tag string",
        )
        merge_delta(spark, src, tbl, key_cols=["price"])
        rows = _read_live_delta(spark, tbl)
        by_price = {}
        for r in rows:
            by_price.setdefault(r["price"], []).append(r["tag"])
        assert by_price[Decimal("5.50")] == ["new"]
        assert by_price[Decimal("900.00")] == ["keep"]

    def test_int_and_string_columns_still_prune(self, spark, tmp_path):
        tbl = str(tmp_path / "int_tbl")
        a = spark.createDataFrame(
            [(1, "aa"), (2, "ab")], "id long, s string")
        b = spark.createDataFrame(
            [(900, "zz"), (950, "zy")], "id long, s string")
        write_delta(a.coalesce(1), tbl)
        write_delta(b.coalesce(1), tbl)
        snap = snapshot(tbl)
        _, counts = _prune_dml_paths(tbl, snap, "id = 1")
        assert counts["n_stats_skipped"] == 1
        _, counts = _prune_dml_paths(tbl, snap, "s = 'zz'")
        assert counts["n_stats_skipped"] == 1

    def test_stats_prunable_gate(self):
        assert _stats_prunable("long", 5)
        assert _stats_prunable("integer", 5.0)
        assert _stats_prunable("string", "x")
        assert not _stats_prunable("decimal(10,2)", 5.5)
        assert not _stats_prunable("decimal(10,2)", Decimal("5.50"))
        assert not _stats_prunable("timestamp", 1700000000)
        assert not _stats_prunable("date", "2026-01-01")
        assert not _stats_prunable("double", 5.5)
        assert not _stats_prunable("long", True)
        assert not _stats_prunable(None, 5)


# -------------------------------------------------------------- medium


class TestCheckpointRace:
    def test_stale_version_checkpoint_skipped(self, spark, tmp_path):
        tbl = str(tmp_path / "ck_race")
        df = spark.createDataFrame([(1,)], "id long")
        for _ in range(3):  # versions 0, 1, 2
            write_delta(df, tbl, checkpoint_interval=0)
        log = os.path.join(tbl, "_delta_log")
        # simulate: this writer claimed version 1, but a concurrent
        # writer's version-2 commit already landed before the snapshot
        _maybe_checkpoint(tbl, 1, 2)
        assert not os.path.exists(
            os.path.join(log, f"{1:020d}.checkpoint.parquet"))
        assert not os.path.exists(os.path.join(log, "_last_checkpoint"))
        # the honest case still writes, named by the true version
        _maybe_checkpoint(tbl, 2, 3)
        assert os.path.exists(
            os.path.join(log, f"{2:020d}.checkpoint.parquet"))
        assert snapshot(tbl)["version"] == 2


# ----------------------------------------------------------------- low


class TestQuoteAwareInList:
    def test_split_in_list(self):
        assert _split_in_list("'a,b','c'") == ["'a,b'", "'c'"]
        assert _split_in_list("1, 2, 3") == ["1", " 2", " 3"]
        assert _split_in_list("'it''s, ok', 'x'") == ["'it''s, ok'", " 'x'"]

    def test_analyze_condition_comma_literal(self):
        cons = analyze_condition("lang IN ('a,b','c')")
        assert cons["lang"]["eq"] == {"a,b", "c"}

    def test_parse_replace_where_comma_literal(self):
        out = parse_replace_where(
            "lang IN ('a,b','c')", {"lang"}, {"lang": "string"})
        assert out == {"lang": {"a,b", "c"}}


class TestIcebergOverwriteDropsDeleteFiles:
    def _partitioned(self, spark, tmp_path, name):
        tbl = str(tmp_path / name)
        df = spark.createDataFrame(
            [(100, 1), (101, 1), (200, 2), (201, 2)],
            "id long, p int",
        )
        write_iceberg(df, tbl, partition_by=["p"])
        return tbl

    def test_replace_where_drops_inapplicable_posdeletes(
            self, spark, tmp_path):
        tbl = self._partitioned(spark, tmp_path, "ice_rw")
        delete_where_iceberg(spark, tbl, "id = 100")
        assert read_table(tbl)["position_delete_files"]
        newp1 = spark.createDataFrame(
            [(110, 1), (111, 1)], "id long, p int")
        write_iceberg(newp1, tbl, mode="overwrite",
                      replace_where="p = 1", partition_by=["p"])
        st = read_table(tbl)
        # the delete file's only targets were replaced: tombstoned
        assert st["position_delete_files"] == []
        ids = sorted(
            r["id"] for r in spark.read.parquet(
                *[os.path.join(tbl, p) for p in sorted(st["live"])]
            ).collect()
        )
        assert ids == [110, 111, 200, 201]

    def test_replace_where_keeps_still_applicable_posdeletes(
            self, spark, tmp_path):
        tbl = self._partitioned(spark, tmp_path, "ice_keep")
        # one delete file may reference BOTH partitions' files
        delete_where_iceberg(spark, tbl, "id IN (100, 200)")
        assert read_table(tbl)["position_delete_files"]
        newp1 = spark.createDataFrame([(110, 1)], "id long, p int")
        write_iceberg(newp1, tbl, mode="overwrite",
                      replace_where="p = 1", partition_by=["p"])
        st = read_table(tbl)
        # p=2's file still carries an applicable delete: file kept,
        # and the deleted p=2 row stays dead
        assert st["position_delete_files"]
        assert st["live_rows_after_deletes"] == 2  # 110 + 201

    def test_full_overwrite_drops_all_delete_files(self, spark, tmp_path):
        tbl = self._partitioned(spark, tmp_path, "ice_full")
        delete_where_iceberg(spark, tbl, "id = 100")
        fresh = spark.createDataFrame([(1, 1)], "id long, p int")
        res = write_iceberg(fresh, tbl, mode="overwrite",
                            partition_by=["p"])
        assert res["version"] is not None
        st = read_table(tbl)
        assert st["position_delete_files"] == []
        assert st["live_rows_after_deletes"] == 1

    def test_posdel_targets_one_job(self, spark, tmp_path):
        tbl = self._partitioned(spark, tmp_path, "ice_targets")
        delete_where_iceberg(spark, tbl, "id = 100")
        delete_where_iceberg(spark, tbl, "id = 200")
        st = read_table(tbl)
        dels = st["position_delete_files"]
        assert len(dels) == 2
        targets = _posdel_targets(spark, tbl, dels)
        assert sorted(targets) == sorted(dels)
        live = set(st["live"])
        for t in targets.values():
            assert t and all(p in live for p in t)
        assert _posdel_targets(spark, tbl, []) == {}
