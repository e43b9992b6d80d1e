"""Round-11 table-lifecycle completions: schema enforcement on
append, RESTORE TO VERSION, executable VACUUM (data + DV sidecars +
change-data), and Iceberg snapshot rollback — write → delete →
optimize → restore → vacuum, end to end.
"""

from __future__ import annotations

import os

import pytest

from hainan_big_data_recommend_system_spark.operators.deltalog import (
    resolve_deletion_vector,
)
from hainan_big_data_recommend_system_spark.sources import delta_sink
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    delete_where_delta,
    merge_delta,
    read_changes,
    restore_delta,
    snapshot,
    vacuum_delta,
    write_delta,
)


def _alive(spark, tbl):
    from pyspark.sql import functions as F

    snap = snapshot(tbl)

    def fetch(p):
        return open(os.path.join(tbl, p), "rb").read()

    dead = {
        delta_sink._abs_uri(tbl, p): set(resolve_deletion_vector(d, fetch))
        for p, d in snap.get("deletion_vectors", {}).items()
    }
    df = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"), "id",
    )
    return sorted(
        r["id"] for r in df.collect()
        if r["ri"] not in dead.get(r["fp"], ())
    )


def test_append_schema_is_enforced(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(3).selectExpr("id", "id AS v").coalesce(1),
                tbl)
    widened = spark.range(3, 6).selectExpr(
        "id", "id AS v", "CAST(id AS STRING) AS extra"
    ).coalesce(1)
    with pytest.raises(ValueError, match="merge_schema"):
        write_delta(widened, tbl)
    # explicit evolution works and updates the recorded schema
    res = write_delta(widened, tbl, merge_schema=True)
    assert res["version"] == 1
    assert "extra" in snapshot(tbl)["schema_json"]
    # overwrite may always change the schema
    write_delta(spark.range(1).selectExpr("id").coalesce(1), tbl,
                mode="overwrite")
    assert "extra" not in snapshot(tbl)["schema_json"]


def test_restore_undoes_delete_and_merge(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 30).selectExpr("id").repartition(2), tbl)
    delete_where_delta(spark, tbl, "id % 3 = 0")
    merge_delta(
        spark, spark.range(100, 105).selectExpr("id").coalesce(1),
        tbl, ["id"],
    )
    assert _alive(spark, tbl) == sorted(
        [i for i in range(30) if i % 3] + list(range(100, 105))
    )
    res = restore_delta(tbl, 0)
    assert res["restored_to"] == 0 and res["version"] == 3
    assert _alive(spark, tbl) == list(range(30))
    snap = snapshot(tbl)
    assert snap["deletion_vectors"] == {}
    assert snap["dv_cardinality"] == 0
    # restoring to the state we are already in is a no-op
    assert restore_delta(tbl, 3)["version"] is None
    # and history is intact: time travel still sees the merge state
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        replay_delta_log,
    )
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        read_log_commits,
    )

    mid = replay_delta_log(read_log_commits(tbl)[:3])
    assert mid["dv_cardinality"] == 10


def test_restore_reinstates_deletion_vectors(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 20).selectExpr("id").coalesce(1), tbl)
    delete_where_delta(spark, tbl, "id < 5", change_data=False)
    delete_where_delta(spark, tbl, "id < 10", change_data=False)
    restore_delta(tbl, 1)  # back to the first delete only
    assert _alive(spark, tbl) == list(range(5, 20))
    assert snapshot(tbl)["dv_cardinality"] == 5


def test_vacuum_deletes_data_sidecars_and_cdc(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 50).selectExpr("id").coalesce(1), tbl)
    # v1: sidecar DV (threshold 0 forces the file form) + cdc files
    delete_where_delta(spark, tbl, "id % 2 = 0", inline_threshold=0)
    # v2: overwrite tombstones the original file
    write_delta(spark.range(100, 103).selectExpr("id").coalesce(1),
                tbl, mode="overwrite")
    sidecars = [f for f in os.listdir(tbl)
                if f.startswith("deletion_vector_")]
    cdc = os.listdir(os.path.join(tbl, "_change_data"))
    assert sidecars and cdc
    # retention 2 keeps everything reachable: nothing deleted
    res = vacuum_delta(tbl, retention_versions=2)
    assert res == {"n_files_deleted": 0, "n_sidecars_deleted": 0,
                   "n_cdc_deleted": 0, "bytes_reclaimed": 0}
    # retention 0: the tombstoned file, its sidecar, and v<=2 cdc go
    res = vacuum_delta(tbl, retention_versions=0)
    assert res["n_files_deleted"] == 1
    assert res["n_sidecars_deleted"] == 1
    assert res["n_cdc_deleted"] == len(cdc)
    assert res["bytes_reclaimed"] > 0
    # the live table still reads fine
    assert _alive(spark, tbl) == [100, 101, 102]
    # restore past the vacuum horizon fails loudly instead of lying
    with pytest.raises(ValueError, match="vacuum"):
        restore_delta(tbl, 0)
    # vacuum is idempotent
    res2 = vacuum_delta(tbl, retention_versions=0)
    assert res2["n_files_deleted"] == 0


def test_vacuum_keeps_sidecars_inside_retention(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 40).selectExpr("id").coalesce(1), tbl)
    delete_where_delta(spark, tbl, "id < 20", inline_threshold=0,
                       change_data=False)
    res = vacuum_delta(tbl, retention_versions=0)
    # the DV is LIVE (current snapshot references it): never deleted
    assert res["n_sidecars_deleted"] == 0
    assert _alive(spark, tbl) == list(range(20, 40))


def test_iceberg_rollback_is_metadata_only(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        read_table,
        rollback_iceberg,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    write_iceberg(spark.range(0, 10).selectExpr("id").coalesce(1), tbl)
    write_iceberg(spark.range(10, 20).selectExpr("id").coalesce(1), tbl)
    assert read_table(tbl)["live_rows"] == 20
    res = rollback_iceberg(tbl, snapshot_id=1)
    assert res["version"] == 2
    snap = read_table(tbl)
    assert snap["snapshot_id"] == 1 and snap["live_rows"] == 10
    # schema survived the rollback metadata rewrite
    assert snap["field_names"] == {1: "id"}
    # rolling forward again works too (the snapshot map is intact)
    rollback_iceberg(tbl, snapshot_id=2)
    assert read_table(tbl)["live_rows"] == 20
    with pytest.raises(ValueError, match="not in the table"):
        rollback_iceberg(tbl, snapshot_id=99)


def test_cdf_still_reads_inside_retention_after_vacuum(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 10).selectExpr("id").coalesce(1), tbl)
    delete_where_delta(spark, tbl, "id = 3")
    delete_where_delta(spark, tbl, "id = 4")
    vacuum_delta(tbl, retention_versions=1)  # horizon = v1
    # v2's change data survived (inside retention)
    rows = read_changes(spark, tbl, 1, 2).collect()
    assert [(r["id"], r["_change_type"]) for r in rows] == [
        (4, "delete")
    ]


def test_concurrent_appends_all_land_exactly_once(spark, tmp_path):
    """Eight writers racing the same table: every commit must land
    under the put-if-absent claim discipline — gap-free versions, no
    lost or duplicated rows.  (Threads share the local JVM; on a real
    object store the same link/claim semantics come from the
    conditional put.)"""
    import threading

    tbl = str(tmp_path / "tbl")
    frames = [
        spark.range(k * 100, (k + 1) * 100).selectExpr("id").coalesce(1)
        for k in range(8)
    ]
    errors = []

    def run(k):
        try:
            write_delta(frames[k], tbl)
        except Exception as ex:  # pragma: no cover - failure reporter
            errors.append((k, ex))

    threads = [threading.Thread(target=run, args=(k,)) for k in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    snap = snapshot(tbl)
    assert snap["version"] == 7  # 8 commits, gap-free (reader checks)
    assert snap["live_rows"] == 800
    assert _alive(spark, tbl) == list(range(800))


def test_concurrent_iceberg_appends_all_land(spark, tmp_path):
    import threading

    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        read_table,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    frames = [
        spark.range(k * 50, (k + 1) * 50).selectExpr("id").coalesce(1)
        for k in range(6)
    ]
    errors = []

    def run(k):
        try:
            write_iceberg(frames[k], tbl)
        except Exception as ex:  # pragma: no cover
            errors.append((k, ex))

    threads = [threading.Thread(target=run, args=(k,)) for k in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    snap = read_table(tbl)
    assert snap["live_rows"] == 300
    assert snap["n_live"] == 6


# ---------------------------------------------------------------------------
# UPDATE (the third DML verb) + OPTIMIZE ZORDER BY
# ---------------------------------------------------------------------------

def test_update_where_rewrites_matched_rows(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        update_where_delta,
    )

    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 50).selectExpr("id", "id AS v").repartition(2),
        tbl,
    )
    res = update_where_delta(spark, tbl, "id % 10 = 0", {"v": "v + 1000"})
    assert res["n_rows_updated"] == 5
    assert res["n_files_touched"] == 2
    snap = snapshot(tbl)
    # old rows tombstoned, new versions appended — originals untouched
    assert snap["dv_cardinality"] == 5
    rows = sorted(
        (r["id"], r["v"]) for r in _alive_rows(spark, tbl)
    )
    want = sorted(
        (i, i + 1000 if i % 10 == 0 else i) for i in range(50)
    )
    assert rows == want
    # CDF carries the pre/post pair
    ch = read_changes(spark, tbl, 0, 1).collect()
    got = sorted((r["_change_type"], r["id"], r["v"]) for r in ch)
    assert got == sorted(
        [("update_preimage", i, i) for i in range(0, 50, 10)]
        + [("update_postimage", i, i + 1000) for i in range(0, 50, 10)]
    )


def _alive_rows(spark, tbl):
    from pyspark.sql import functions as F

    snap = snapshot(tbl)

    def fetch(p):
        return open(os.path.join(tbl, p), "rb").read()

    dead = {
        delta_sink._abs_uri(tbl, p): set(resolve_deletion_vector(d, fetch))
        for p, d in snap.get("deletion_vectors", {}).items()
    }
    df = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"), "id", "v",
    )
    return [
        r for r in df.collect()
        if r["ri"] not in dead.get(r["fp"], ())
    ]


def test_update_moves_rows_across_partitions(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        update_where_delta,
    )

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b", i) for i in range(10)],
        "id long, cat string, v long",
    ).coalesce(1)
    write_delta(df, tbl, partition_by=["cat"])
    update_where_delta(spark, tbl, "id = 2", {"cat": "'b'"},
                       change_data=False)
    snap = snapshot(tbl)
    moved = [
        p for p in snap["live"]
        if p not in snap["deletion_vectors"]
        and snap["partition_values"][p]["cat"] == "b"
        and "part-" in p
    ]
    # the updated row landed in cat=b's directory
    assert any(
        2 in [r["id"] for r in
              spark.read.parquet(os.path.join(tbl, p)).collect()]
        for p in moved
    )


def test_update_skips_already_dead_rows(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        update_where_delta,
    )

    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 20).selectExpr("id", "id AS v")
                .coalesce(1), tbl)
    delete_where_delta(spark, tbl, "id < 5", change_data=False)
    res = update_where_delta(spark, tbl, "id < 8", {"v": "-v"},
                             change_data=False)
    assert res["n_rows_updated"] == 3  # 5,6,7 — dead rows are not rows
    rows = sorted((r["id"], r["v"]) for r in _alive_rows(spark, tbl))
    assert rows == sorted(
        [(i, -i) for i in (5, 6, 7)] + [(i, i) for i in range(8, 20)]
    )


def test_optimize_zorder_improves_both_dimension_skipping(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        prune_live_files,
    )
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        optimize_delta,
    )

    tbl = str(tmp_path / "tbl")
    # 8 appends clustered by NEITHER dimension (round-robin ids)
    for k in range(8):
        write_delta(
            spark.range(0, 4096).selectExpr(
                f"id * 8 + {k} AS a", f"pmod(id * 2654435761, 32768) AS b"
            ).coalesce(1),
            tbl,
        )
    before = snapshot(tbl)
    # pre-ZORDER: every file spans the full range of BOTH dimensions —
    # a narrow range prunes nothing
    assert prune_live_files(before, "a", lo=0, hi=4095)["n_skipped"] == 0
    assert prune_live_files(before, "b", lo=0, hi=4095)["n_skipped"] == 0
    res = optimize_delta(spark, tbl, target_partitions=8,
                         zorder_by=["a", "b"])
    assert res["n_compacted"] == 8 and res["n_files"] == 8
    snap = snapshot(tbl)
    # post-ZORDER every file covers a small (a, b) bounding box: the
    # same 1/8-range probe now skips files on EITHER dimension (the
    # 8-file z-curve yields ~2-bit boxes in one dim, ~1-bit in the
    # other, so ≥half skip on one axis and ≥a quarter on the other)
    pr_a = prune_live_files(snap, "a", lo=0, hi=4095)
    pr_b = prune_live_files(snap, "b", lo=0, hi=4095)
    assert pr_a["n_skipped"] >= 4, pr_a
    assert pr_b["n_skipped"] >= 2, pr_b
    assert snap["live_rows"] == 8 * 4096


def test_expire_snapshots_execution(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        expire_snapshots_iceberg,
        read_table,
        rollback_iceberg,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    write_iceberg(spark.range(0, 10).selectExpr("id").coalesce(1), tbl)
    write_iceberg(spark.range(20, 25).selectExpr("id").coalesce(1),
                  tbl, mode="overwrite")
    write_iceberg(spark.range(30, 35).selectExpr("id").coalesce(1),
                  tbl, mode="overwrite")
    snap1_files = sorted(read_table(tbl, snapshot_id=1)["live"])
    res = expire_snapshots_iceberg(tbl, retain_last=1)
    assert res["expired"] == [1, 2] and res["version"] == 3
    assert res["bytes_reclaimed"] > 0
    # the fully-orphaned generation is physically gone
    for p in snap1_files:
        assert not os.path.exists(os.path.join(tbl, p))
    # the current snapshot still reads
    snap = read_table(tbl)
    assert snap["live_rows"] == 5
    rows = spark.read.parquet(*[
        os.path.join(tbl, p) for p in sorted(snap["live"])
    ]).collect()
    assert sorted(r["id"] for r in rows) == list(range(30, 35))
    # expired snapshots are no longer resolvable — rollback refuses
    with pytest.raises(ValueError, match="not in the table"):
        rollback_iceberg(tbl, snapshot_id=1)
    # idempotent: nothing left to expire
    assert expire_snapshots_iceberg(tbl, retain_last=1)["version"] is None


def test_inspect_delta_metadata_tables(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        inspect_delta,
        optimize_delta,
    )

    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 30).selectExpr("id").repartition(2), tbl)
    delete_where_delta(spark, tbl, "id % 3 = 0")
    optimize_delta(spark, tbl, target_partitions=1)

    hist = inspect_delta(spark, tbl, "history").collect()
    assert [(r["version"], r["operation"]) for r in hist] == [
        (0, "WRITE"), (1, "DELETE"), (2, "OPTIMIZE"),
    ]
    assert hist[1]["n_cdc"] >= 1

    files = inspect_delta(spark, tbl, "files").collect()
    assert len(files) == 1  # compacted
    assert files[0]["num_records"] == 20  # DVs materialized
    assert files[0]["dv_cardinality"] == 0
    assert files[0]["has_stats"]

    tombs = inspect_delta(spark, tbl, "tombstones").collect()
    assert len(tombs) == 2  # the two original files
    with pytest.raises(ValueError, match="unknown metadata table"):
        inspect_delta(spark, tbl, "nope")


def test_inspect_iceberg_metadata_tables(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        delete_where_iceberg,
        inspect_iceberg,
        merge_iceberg,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    write_iceberg(spark.range(0, 20).selectExpr("id", "id AS v")
                  .coalesce(1), tbl)
    write_iceberg(spark.range(20, 40).selectExpr("id", "id AS v")
                  .coalesce(1), tbl)
    merge_iceberg(
        spark, spark.range(0, 3).selectExpr("id", "-id AS v")
        .coalesce(1), tbl, ["id"],
    )
    delete_where_iceberg(spark, tbl, "id = 30")

    files = inspect_iceberg(spark, tbl, "files").collect()
    assert len(files) == 3  # two appends + the merge's data file
    assert sorted(r["sequence_number"] for r in files) == [1, 2, 3]
    assert all(r["has_bounds"] for r in files)

    snaps = inspect_iceberg(spark, tbl, "snapshots").collect()
    assert len(snaps) == 4
    assert sum(1 for r in snaps if r["is_current"]) == 1

    dels = inspect_iceberg(spark, tbl, "deletes").collect()
    kinds = sorted((r["delete_type"], r["sequence_number"])
                   for r in dels)
    assert kinds == [("equality", 3), ("position", 4)]
    eq = [r for r in dels if r["delete_type"] == "equality"][0]
    assert eq["equality_columns"] == '["id"]'

    mans = inspect_iceberg(spark, tbl, "manifests").collect()
    assert sum(r["content"] == 1 for r in mans) == 2  # both deletes
