"""DML scan planning composes the repo's pruning levers (VERDICT r11
What's wrong #3): DELETE/UPDATE WHERE prune the file list with
partition tuples, min/max stats, and bloom filters BEFORE the
distributed scan — files proven match-free are neither scanned nor
re-added, and results stay byte-identical to the unpruned path.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.sources import delta_sink
from hainan_big_data_recommend_system_spark.sources.delta_sink import (
    delete_where_delta,
    read_log_commits,
    snapshot,
    update_where_delta,
    write_delta,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _prune_dml_paths,
    analyze_condition,
)


# ---------------------------------------------------------------------------
# the conservative condition analyzer
# ---------------------------------------------------------------------------

def test_analyze_condition_reads_sound_conjuncts():
    got = analyze_condition("dt = '2024-01-02' AND id >= 5 AND id < 9")
    assert got["dt"]["eq"] == {"2024-01-02"}
    assert got["id"]["lo"] == 5 and got["id"]["hi"] == 9
    assert analyze_condition("x IN (1, 2, 3)")["x"]["eq"] == {1, 2, 3}
    # unreadable conjuncts contribute nothing; readable ones survive
    got = analyze_condition("upper(name) = 'A' AND k = 7")
    assert list(got) == ["k"]


def test_analyze_condition_bails_on_disjunction_and_tricks():
    assert analyze_condition("a = 1 OR b = 2") == {}
    # OR binds looser than AND: the whole predicate is unsound
    assert analyze_condition("a = 1 AND b = 2 OR c = 3") == {}
    # a parenthesized OR is just an unreadable conjunct
    got = analyze_condition("a = 1 AND (b = 2 OR c = 3)")
    assert list(got) == ["a"]
    # '<>' must not parse as '<'
    assert analyze_condition("a <> 5") == {}
    # 'AND'/'OR' inside string literals are not operators
    got = analyze_condition("name = 'x AND y' AND k = 1")
    assert got["name"]["eq"] == {"x AND y"} and got["k"]["eq"] == {1}
    # NULL / column-ref right-hand sides are not literals
    assert analyze_condition("a = NULL") == {}
    assert analyze_condition("a = b") == {}


# ---------------------------------------------------------------------------
# partition-pruned DELETE: 1 of N partitions scanned
# ---------------------------------------------------------------------------

def _scan_capture(monkeypatch):
    seen = {}
    orig = delta_sink._scan_with_positions

    def wrapper(spark, table_dir, paths, *args, **kwargs):
        seen["paths"] = list(paths)
        return orig(spark, table_dir, paths, *args, **kwargs)

    monkeypatch.setattr(delta_sink, "_scan_with_positions", wrapper)
    return seen


def test_partitioned_delete_scans_one_partition(
    spark, tmp_path, monkeypatch
):
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 300).selectExpr(
        "id",
        "CASE WHEN id < 100 THEN 'd1' WHEN id < 200 THEN 'd2' "
        "ELSE 'd3' END AS dt",
    )
    write_delta(df, tbl, partition_by=["dt"])
    snap = snapshot(tbl)
    n_d2 = sum(
        1 for p, v in snap["partition_values"].items() if v["dt"] == "d2"
    )
    assert 0 < n_d2 < len(snap["live"])

    kept, counts = _prune_dml_paths(tbl, snap, "dt = 'd2' AND id < 150")
    assert len(kept) <= n_d2
    assert counts["n_partition_skipped"] == len(snap["live"]) - n_d2
    assert all(snap["partition_values"][p]["dt"] == "d2" for p in kept)

    seen = _scan_capture(monkeypatch)
    res = delete_where_delta(spark, tbl, "dt = 'd2' AND id < 150",
                             change_data=False)
    assert res["n_rows_deleted"] == 50
    # the scan received ONLY the pruned file list
    assert set(seen["paths"]) == set(kept)
    # untouched partitions' files never re-added in the commit
    acts = [json.loads(ln) for ln in read_log_commits(tbl)[-1].splitlines()]
    touched = {a["add"]["path"] for a in acts if "add" in a}
    assert all(snap["partition_values"][p]["dt"] == "d2"
               for p in touched)
    # results byte-identical to ground truth
    from hainan_big_data_recommend_system_spark.operators.deltalog import (
        resolve_deletion_vector,
    )
    import os

    cur = snapshot(tbl)
    dead = {
        delta_sink._abs_uri(tbl, p): set(resolve_deletion_vector(
            d, lambda q: open(os.path.join(tbl, q), "rb").read()))
        for p, d in cur["deletion_vectors"].items()
    }
    rows = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(cur["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"), "id",
    ).collect()
    alive = sorted(r["id"] for r in rows
                   if r["ri"] not in dead.get(r["fp"], ()))
    assert alive == sorted(i for i in range(300) if not (100 <= i < 150))


def test_stats_pruned_update_skips_disjoint_files(
    spark, tmp_path, monkeypatch
):
    tbl = str(tmp_path / "tbl")
    # 4 key-clustered files: ids 0-99, 100-199, ...
    for k in range(4):
        write_delta(
            spark.range(k * 100, (k + 1) * 100).selectExpr("id")
            .coalesce(1).sortWithinPartitions("id"),
            tbl,
        )
    snap = snapshot(tbl)
    kept, counts = _prune_dml_paths(tbl, snap, "id >= 150 AND id <= 249")
    assert len(kept) == 2 and counts["n_stats_skipped"] == 2

    seen = _scan_capture(monkeypatch)
    res = update_where_delta(
        spark, tbl, "id >= 150 AND id <= 249", {"id": "id + 10000"},
        change_data=False,
    )
    assert res["n_rows_updated"] == 100
    assert set(seen["paths"]) == set(kept)
    assert res["n_files_touched"] == 2


def test_pruned_to_nothing_is_noop(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 100).selectExpr("id").coalesce(1), tbl,
    )
    before = snapshot(tbl)["version"]
    res = delete_where_delta(spark, tbl, "id = 5000", change_data=False)
    assert res["version"] is None
    assert snapshot(tbl)["version"] == before


def test_bloom_pruned_delete(spark, tmp_path, monkeypatch):
    tbl = str(tmp_path / "tbl")
    # two files with OVERLAPPING id ranges (stats can't skip) but
    # disjoint membership — only bloom proves absence
    write_delta(
        spark.range(0, 100).selectExpr("id * 2 AS id").coalesce(1),
        tbl, bloom_filter_cols=["id"],
    )
    write_delta(
        spark.range(0, 100).selectExpr("id * 2 + 1 AS id").coalesce(1),
        tbl, bloom_filter_cols=["id"],
    )
    snap = snapshot(tbl)
    kept, counts = _prune_dml_paths(tbl, snap, "id = 42")
    assert len(kept) == 1 and counts["n_bloom_skipped"] == 1

    seen = _scan_capture(monkeypatch)
    res = delete_where_delta(spark, tbl, "id = 42", change_data=False)
    assert res["n_rows_deleted"] == 1
    assert set(seen["paths"]) == set(kept)


def test_cross_type_literals_never_skip(spark, tmp_path):
    """'5' on an int column / 5 on a string column: Spark's typed
    filter coerces, so textual pruning must keep everything."""
    tbl = str(tmp_path / "tbl")
    write_delta(
        spark.range(0, 50).selectExpr(
            "id", "cast(id % 3 as string) AS p"
        ),
        tbl, partition_by=["p"], bloom_filter_cols=["id"],
    )
    snap = snapshot(tbl)
    # int literal against the STRING partition column: no pruning
    kept, _ = _prune_dml_paths(tbl, snap, "p = 1")
    assert set(kept) == set(snap["live"])
    # string literal against the INT column: stats+bloom keep all
    kept, _ = _prune_dml_paths(tbl, snap, "id = '7'")
    assert set(kept) == set(snap["live"])
    # and the actual delete still works (Spark coerces)
    res = delete_where_delta(spark, tbl, "id = '7'", change_data=False)
    assert res["n_rows_deleted"] == 1


# ---------------------------------------------------------------------------
# the same composition on lake format #2 (round 12)
# ---------------------------------------------------------------------------

def test_iceberg_delete_prunes_partitions(spark, tmp_path, monkeypatch):
    from hainan_big_data_recommend_system_spark.sources import iceberg_sink
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        delete_where_iceberg,
        read_table,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    write_iceberg(
        spark.range(0, 300).selectExpr("id", "id % 3 as p").coalesce(1),
        tbl, partition_by=["p"],
    )
    snap = read_table(tbl)
    assert snap["n_live"] == 3

    seen = {}
    orig = iceberg_sink._alive_rows_with_positions

    def wrapper(spark_, table_dir, prev, condition=None, paths=None):
        seen["paths"] = list(paths or sorted(prev["live"]))
        return orig(spark_, table_dir, prev, condition, paths)

    monkeypatch.setattr(
        iceberg_sink, "_alive_rows_with_positions", wrapper
    )
    res = delete_where_iceberg(spark, tbl, "p = 1 AND id < 100")
    assert res["n_rows_deleted"] == 33
    # only the p=1 partition's file was scanned
    assert len(seen["paths"]) == 1 and "p=1" in seen["paths"][0]


def test_iceberg_update_prunes_by_stats(spark, tmp_path, monkeypatch):
    from hainan_big_data_recommend_system_spark.sources import iceberg_sink
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        update_where_iceberg,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    for k in range(4):
        write_iceberg(
            spark.range(k * 100, (k + 1) * 100)
            .selectExpr("id", "id as v").coalesce(1)
            .sortWithinPartitions("id"),
            tbl,
        )
    seen = {}
    orig = iceberg_sink._alive_rows_with_positions

    def wrapper(spark_, table_dir, prev, condition=None, paths=None):
        seen["paths"] = list(paths or sorted(prev["live"]))
        return orig(spark_, table_dir, prev, condition, paths)

    monkeypatch.setattr(
        iceberg_sink, "_alive_rows_with_positions", wrapper
    )
    res = update_where_iceberg(
        spark, tbl, "id >= 150 AND id <= 249", {"v": "v + 1000"},
    )
    assert res["n_rows_updated"] == 100
    # manifest lower/upper bounds proved 2 of 4 files disjoint
    assert len(seen["paths"]) == 2


def test_iceberg_pruned_to_nothing_is_noop(spark, tmp_path):
    from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
        delete_where_iceberg,
        read_table,
        write_iceberg,
    )

    tbl = str(tmp_path / "tbl")
    write_iceberg(
        spark.range(0, 100).selectExpr("id").coalesce(1)
        .sortWithinPartitions("id"),
        tbl,
    )
    before = read_table(tbl)["snapshot_id"]
    res = delete_where_iceberg(spark, tbl, "id = 5000")
    assert res["version"] is None
    assert read_table(tbl)["snapshot_id"] == before


def test_merge_prunes_target_by_source_key_range(
    spark, tmp_path, monkeypatch
):
    """A CDC batch of recent keys opens only the key-range-matching
    target files (round 12: the stats half of merge pruning)."""
    from hainan_big_data_recommend_system_spark.sources.delta_sink import (
        merge_delta,
    )

    tbl = str(tmp_path / "tbl")
    for k in range(4):
        write_delta(
            spark.range(k * 100, (k + 1) * 100)
            .selectExpr("id", "id AS v").coalesce(1)
            .sortWithinPartitions("id"),
            tbl,
        )
    seen = _scan_capture(monkeypatch)
    res = merge_delta(
        spark,
        spark.range(350, 360).selectExpr("id", "-id AS v").coalesce(1),
        tbl, ["id"], change_data=False,
    )
    assert res["n_rows_updated"] == 10
    # the source keys 350..359 bound the scan to ONE of 4 files
    assert len(seen["paths"]) == 1
    assert res["n_files_touched"] == 1


def test_analyze_condition_between_and_expression_literals():
    """Round-12 self-review pins: BETWEEN owns its AND; a string
    concatenation must not parse as one literal (it would prune files
    that DO match)."""
    got = analyze_condition("id BETWEEN 5 AND 9 AND dt = 'd'")
    assert got["id"]["lo"] == 5 and got["id"]["hi"] == 9
    assert got["dt"]["eq"] == {"d"}
    assert analyze_condition("id between 1 and 3")["id"]["hi"] == 3
    # expressions on the right-hand side are NOT literals
    assert analyze_condition("x = 'abc' || 'd'") == {}
    assert analyze_condition("x = 'it''s'")["x"]["eq"] == {"it's"}
    # NOT BETWEEN is an unreadable conjunct, not a wrong constraint
    assert analyze_condition("id NOT BETWEEN 5 AND 9") == {}


def test_pruning_soundness_randomized(spark, tmp_path):
    """PROPERTY: for any condition, every file holding at least one
    matching row SURVIVES `_prune_dml_paths` — pruning may keep too
    much, never too little.  Seeded random conditions over a grammar
    mixing readable conjuncts, unreadable ones, ORs, BETWEENs, IN
    lists, cross-type literals, and string predicates."""
    import os
    import random

    from pyspark.sql import functions as F

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 400).selectExpr(
        "id",
        "CASE WHEN id < 100 THEN 'd1' WHEN id < 250 THEN 'd2' "
        "ELSE 'd3' END AS dt",
        "cast(id % 7 as string) AS tag",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id % 7 as string) "
        "END AS ntag",
    )
    write_delta(df, tbl, partition_by=["dt"],
                bloom_filter_cols=["id"])
    snap = snapshot(tbl)

    rng = random.Random(0xC0FFEE)

    def gen_atom():
        kind = rng.randrange(10)
        k = rng.randrange(0, 450)
        if kind == 0:
            return f"id = {k}"
        if kind == 1:
            op = rng.choice(["<", "<=", ">", ">="])
            return f"id {op} {k}"
        if kind == 2:
            return f"dt = 'd{rng.randrange(1, 5)}'"
        if kind == 3:
            vals = ", ".join(
                str(rng.randrange(0, 450)) for _ in range(3)
            )
            return f"id IN ({vals})"
        if kind == 4:
            lo = rng.randrange(0, 400)
            return f"id BETWEEN {lo} AND {lo + rng.randrange(0, 60)}"
        if kind == 5:
            return f"tag = '{rng.randrange(0, 9)}'"
        if kind == 6:
            return f"id % {rng.randrange(2, 5)} = 1"  # unreadable
        if kind == 7:
            return "ntag IS NULL"     # nullCount lever (round 13)
        if kind == 8:
            return "ntag IS NOT NULL"
        return f"id = '{k}'"  # cross-type literal (Spark coerces)

    scan = spark.read.parquet(
        *[os.path.join(tbl, p) for p in sorted(snap["live"])]
    ).select(
        F.col("_metadata.file_path").alias("fp"), "id", "tag", "ntag",
    )
    abs_of = {delta_sink._abs_uri(tbl, p): p for p in snap["live"]}
    pv = snap["partition_values"]

    for trial in range(25):
        n = rng.randrange(1, 4)
        joiner = " OR " if rng.random() < 0.25 else " AND "
        cond = joiner.join(gen_atom() for _ in range(n))
        kept, _ = _prune_dml_paths(tbl, snap, cond)
        # ground truth: files with >= 1 matching row (partition column
        # re-attached the way the DML scan does)
        matched = scan
        part_vals = spark.createDataFrame(
            [(delta_sink._abs_uri(tbl, p), pv[p]["dt"])
             for p in snap["live"]],
            "fp string, dt string",
        )
        matched = matched.join(F.broadcast(part_vals), "fp")
        must_keep = {
            abs_of[r["fp"]]
            for r in matched.filter(cond).select("fp").distinct()
            .collect()
        }
        missing = must_keep - set(kept)
        assert not missing, (
            f"condition {cond!r} pruned files with matches: {missing}"
        )
