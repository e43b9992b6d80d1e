"""Round-11 regression pins for the round-10 ADVICE findings plus the
verdict's write-path scale items:

- ADVICE high:   OPTIMIZE must not resurrect DV-deleted rows — it
  materializes deletion vectors during the rewrite.
- ADVICE medium: the retry-loop conflict checks must catch a
  concurrent remove+re-add-with-DV of the SAME path (liveness alone
  misses it).
- ADVICE low #1: Hive partition dirs decode with Spark's
  escapePathName rules; ``__HIVE_DEFAULT_PARTITION__`` maps to null.
- ADVICE low #2: incomparable add.stats bounds must not abort
  pruning — they count as missing stats.
- VERDICT #1:    the DELETE/MERGE deletion-vector build runs on
  executors; the driver collects opaque bitmaps, never positions.
"""

from __future__ import annotations

import inspect
import os

import pytest

from hainan_big_data_recommend_system_spark.operators.deltalog import (
    prune_live_files,
    replay_delta_log,
    resolve_deletion_vector,
)
from hainan_big_data_recommend_system_spark.sources import delta_sink
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    delete_where_delta,
    merge_delta,
    optimize_delta,
    read_log_commits,
    snapshot,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    unescape_path_name,
)


def _alive_ids(spark, tbl, col="id"):
    from pyspark.sql import functions as F

    snap = snapshot(tbl)

    def fetch(p):
        return open(os.path.join(tbl, p), "rb").read()

    dead = {
        delta_sink._abs_uri(tbl, p):
            set(resolve_deletion_vector(d, fetch))
        for p, d in snap.get("deletion_vectors", {}).items()
    }
    df = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
        col,
    )
    return sorted(
        r[col] for r in df.collect()
        if r["ri"] not in dead.get(r["fp"], ())
    ), snap


# ---------------------------------------------------------------------------
# ADVICE high: OPTIMIZE materializes deletion vectors
# ---------------------------------------------------------------------------

def test_optimize_materializes_dvs_instead_of_resurrecting(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 300).selectExpr("id").repartition(3), tbl)
    delete_where_delta(spark, tbl, "id % 10 = 3", change_data=False)
    res = optimize_delta(spark, tbl, target_partitions=1)
    assert res["n_compacted"] == 3
    assert res["n_dv_rows_dropped"] == 30
    # the compacted files PHYSICALLY dropped the tombstoned rows
    assert res["n_records"] == 270
    snap = snapshot(tbl)
    assert snap["deletion_vectors"] == {}
    assert snap["live_rows"] == 270 == snap["live_rows_after_dv"]
    alive, _ = _alive_ids(spark, tbl)
    assert alive == sorted(i for i in range(300) if i % 10 != 3)
    # still a dataChange:false commit — readers treat it as
    # row-preserving, which materialization keeps honest
    import json

    last = read_log_commits(tbl)[-1]
    acts = [json.loads(ln) for ln in last.splitlines()]
    assert all(
        a["add"]["dataChange"] is False for a in acts if "add" in a
    )
    assert all(
        a["remove"]["dataChange"] is False for a in acts if "remove" in a
    )


# ---------------------------------------------------------------------------
# ADVICE medium: conflict checks see concurrent DV changes
# ---------------------------------------------------------------------------

def _inject_after_staging(monkeypatch, concurrent):
    """Run ``concurrent()`` right after the writer's one-time staging
    completes — the read-modify-claim window the put-if-absent commit
    protects."""
    orig = delta_sink._stage_data_files

    def wrapper(df, table_dir, token, **kw):
        adds = orig(df, table_dir, token, **kw)
        monkeypatch.setattr(delta_sink, "_stage_data_files", orig)
        concurrent()
        return adds

    monkeypatch.setattr(delta_sink, "_stage_data_files", wrapper)


def test_optimize_aborts_on_concurrent_dv_delete(spark, tmp_path,
                                                 monkeypatch):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 200).selectExpr("id").repartition(2), tbl)

    _inject_after_staging(
        monkeypatch,
        lambda: delete_where_delta(spark, tbl, "id % 4 = 1",
                                   change_data=False),
    )
    with pytest.raises(ValueError, match="optimize conflict"):
        optimize_delta(spark, tbl, target_partitions=1)
    # the concurrent writer's deletes survived
    alive, _ = _alive_ids(spark, tbl)
    assert alive == sorted(i for i in range(200) if i % 4 != 1)


def test_merge_aborts_on_concurrent_dv_delete(spark, tmp_path,
                                              monkeypatch):
    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 100).selectExpr("id", "id AS v").coalesce(1), tbl
    )
    _inject_after_staging(
        monkeypatch,
        lambda: delete_where_delta(spark, tbl, "id < 5",
                                   change_data=False),
    )
    src = spark.range(0, 10).selectExpr("id", "-id AS v").coalesce(1)
    with pytest.raises(ValueError, match="merge conflict"):
        merge_delta(spark, src, tbl, ["id"], change_data=False)


def test_delete_aborts_on_concurrent_dv_delete(spark, tmp_path,
                                               monkeypatch):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 100).selectExpr("id").coalesce(1), tbl)

    orig = delta_sink._dv_descriptors

    def wrapper(updates, table_dir, inline_threshold, token):
        monkeypatch.setattr(delta_sink, "_dv_descriptors", orig)
        delete_where_delta(spark, tbl, "id >= 90", change_data=False)
        return orig(updates, table_dir, inline_threshold, token)

    monkeypatch.setattr(delta_sink, "_dv_descriptors", wrapper)
    with pytest.raises(ValueError, match="delete conflict"):
        delete_where_delta(spark, tbl, "id < 10", change_data=False)
    # the concurrent delete's rows stayed dead
    alive, _ = _alive_ids(spark, tbl)
    assert alive == list(range(0, 90))


# ---------------------------------------------------------------------------
# ADVICE low #1: Hive partition-value decoding
# ---------------------------------------------------------------------------

def test_unescape_path_name_is_spark_exact():
    assert unescape_path_name("a%3Db") == "a=b"
    assert unescape_path_name("50%25off") == "50%off"
    assert unescape_path_name("a%2Fb%3Ac") == "a/b:c"
    # NOT generic url-unquoting: a lone % or non-hex tail is literal
    assert unescape_path_name("100%") == "100%"
    assert unescape_path_name("%zz") == "%zz"
    assert unescape_path_name("%2") == "%2"
    assert unescape_path_name("") == ""


def test_null_and_special_partition_values_roundtrip(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, None), (2, "50%off"), (3, "a=b/c"), (4, "plain")],
        "id long, cat string",
    ).coalesce(1)
    write_delta(df, tbl, partition_by=["cat"])
    snap = snapshot(tbl)
    got = sorted(
        (v["cat"] for v in snap["partition_values"].values()),
        key=lambda x: (x is not None, x or ""),
    )
    assert got == [None, "50%off", "a=b/c", "plain"]
    # the re-attach (broadcast join) surfaces the exact values,
    # including the null, so predicates on them work
    res = delete_where_delta(spark, tbl, "cat = '50%off'",
                             change_data=False)
    assert res["n_rows_deleted"] == 1
    alive, _ = _alive_ids(spark, tbl)
    assert alive == [1, 3, 4]
    res2 = delete_where_delta(spark, tbl, "cat IS NULL",
                              change_data=False)
    assert res2["n_rows_deleted"] == 1
    alive2, _ = _alive_ids(spark, tbl)
    assert alive2 == [3, 4]


# ---------------------------------------------------------------------------
# ADVICE low #2: incomparable stats bounds never abort pruning
# ---------------------------------------------------------------------------

def test_prune_keeps_files_with_incomparable_stats():
    commits = [
        "\n".join([
            '{"protocol":{"minReaderVersion":1}}',
            '{"add":{"path":"f0","size":10,"numRecords":5,'
            '"dataChange":true,"stats":'
            '"{\\"numRecords\\":5,\\"minValues\\":{\\"k\\":\\"aa\\"},'
            '\\"maxValues\\":{\\"k\\":\\"zz\\"}}"}}',
            '{"add":{"path":"f1","size":10,"numRecords":5,'
            '"dataChange":true,"stats":'
            '"{\\"numRecords\\":5,\\"minValues\\":{\\"k\\":100},'
            '\\"maxValues\\":{\\"k\\":200}}"}}',
        ])
    ]
    snap = replay_delta_log(commits)
    pr = prune_live_files(snap, "k", lo=300)
    # f0's string bounds are no PROOF of disjointness → kept, counted
    # as no-stats; f1's numeric bounds prove disjoint → skipped
    assert sorted(pr["kept"]) == ["f0"]
    assert pr["n_no_stats"] == 1
    assert pr["n_skipped"] == 1


# ---------------------------------------------------------------------------
# VERDICT #1: the DV build is executor-side, bitmaps-only at the driver
# ---------------------------------------------------------------------------

def test_dv_build_collects_bitmaps_not_positions(spark, tmp_path):
    # the plan pin: neither DELETE nor MERGE materializes row
    # positions driver-side — no collect_list anywhere, the shared
    # builder groups per file and serializes inside applyInPandas
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        update_where_delta,
    )

    for fn in (delete_where_delta, merge_delta, update_where_delta):
        assert "collect_list" not in inspect.getsource(fn)
        assert "_build_dv_updates" in inspect.getsource(fn)
    src = inspect.getsource(delta_sink._build_dv_updates)
    assert "applyInPandas" in src
    assert "dv binary" in src  # the collected schema carries bytes

    # behavior pin: the returned bitmaps decode to the right positions
    from pyspark.sql import functions as F

    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        decode_deletion_vector,
    )

    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 100).selectExpr("id").repartition(2), tbl)
    snap = snapshot(tbl)
    paths = sorted(snap["live"])
    abs_to_rel = {
        "file:" + os.path.abspath(os.path.join(tbl, p)): p
        for p in paths
    }
    matched = delta_sink._scan_with_positions(spark, tbl, paths).filter(
        F.col("id") % 10 == 0
    ).select("__fp", "__ri")
    updates = delta_sink._build_dv_updates(
        spark, matched, tbl, abs_to_rel, {}
    )
    total = sum(card for _, card, _ in updates.values())
    assert total == 10
    for dv, card, fresh in updates.values():
        pos = decode_deletion_vector(dv)
        assert len(pos) == card == fresh


def test_dv_build_unions_prior_dv_on_executors(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(spark.range(0, 100).selectExpr("id").coalesce(1), tbl)
    delete_where_delta(spark, tbl, "id < 10", inline_threshold=0,
                       change_data=False)  # sidecar form
    # second delete must union the sidecar DV inside the kernel
    res = delete_where_delta(spark, tbl, "id < 25", change_data=False)
    assert res["n_rows_deleted"] == 15
    alive, snap = _alive_ids(spark, tbl)
    assert alive == list(range(25, 100))
    assert snap["dv_cardinality"] == 25


# ---------------------------------------------------------------------------
# round 11: per-partition OPTIMIZE (replacing the loud guard)
# ---------------------------------------------------------------------------

def test_optimize_partitioned_compacts_per_partition(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    # 3 partitions × 4 tiny appends each
    for k in range(4):
        df = spark.createDataFrame(
            [(k * 30 + i, f"p{i % 3}") for i in range(30)],
            "id long, cat string",
        ).repartition(1)
        write_delta(df, tbl, partition_by=["cat"])
    delete_where_delta(spark, tbl, "id % 10 = 0", change_data=False)
    res = optimize_delta(spark, tbl)
    assert res["n_compacted"] == 12
    assert res["n_files"] == 3  # one per partition
    snap = snapshot(tbl)
    assert snap["n_live"] == 3
    assert snap["deletion_vectors"] == {}  # materialized
    # every file sits in its partition dir with partitionValues stamped
    pv = snap["partition_values"]
    assert sorted(v["cat"] for v in pv.values()) == ["p0", "p1", "p2"]
    for p in snap["live"]:
        assert p.split("/")[0] == f"cat={pv[p]['cat']}"
    alive, _ = _alive_ids(spark, tbl)
    assert alive == sorted(i for i in range(120) if i % 10 != 0)
    # rows_after_dv preserved: dataChange:false stayed honest
    assert snap["live_rows"] == len(alive)


def test_optimize_partitioned_skips_singleton_partitions(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    # cat=a gets 3 small files, cat=b gets 1 — only a compacts
    for k in range(3):
        write_delta(
            spark.createDataFrame([(k, "a")], "id long, cat string")
            .coalesce(1),
            tbl, partition_by=["cat"],
        )
    write_delta(
        spark.createDataFrame([(99, "b")], "id long, cat string")
        .coalesce(1),
        tbl, partition_by=["cat"],
    )
    b_files = [p for p in snapshot(tbl)["live"] if p.startswith("cat=b")]
    res = optimize_delta(spark, tbl)
    assert res["n_compacted"] == 3 and res["n_files"] == 1
    snap = snapshot(tbl)
    assert [p for p in snap["live"] if p.startswith("cat=b")] == b_files
    alive, _ = _alive_ids(spark, tbl)
    assert alive == [0, 1, 2, 99]


def _spark_escape_path_name(s: str) -> str:
    """Test-side mirror of Spark's ExternalCatalogUtils.escapePathName
    (the char set from the public Spark source): used to prove
    `unescape_path_name` is its exact inverse on arbitrary input."""
    needs = set('"#%\'*/:=?\\{[]^')
    out = []
    for c in s:
        if c in needs or ord(c) < 0x20 or ord(c) == 0x7F:
            out.append(f"%{ord(c):02X}")
        else:
            out.append(c)
    return "".join(out)


def test_unescape_inverts_spark_escaping_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=40))
    def roundtrip(s):
        assert unescape_path_name(_spark_escape_path_name(s)) == s

    roundtrip()
