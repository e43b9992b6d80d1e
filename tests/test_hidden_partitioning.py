"""Iceberg HIDDEN PARTITIONING (round 13, VERDICT r12 What's missing
#3 / next-round #5): the spec's partition transforms — ``days(ts)``,
``bucket(N, col)``, ``truncate(W, col)`` — in
``write_iceberg(partition_by=)``, recorded in the metadata's
partition-specs block, inherited by appends/DML/compaction, and
composed into transform-aware predicate pruning (a timestamp-range
DELETE opens only the matching day partitions).

The bucket hash is the spec's murmur3_x86_32 over the little-endian
int64 — property-tested JVM-expression vs Python reference, plus the
spec's own known-answer (hash(34L) = 2017239379).
"""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from hainan_big_data_recommend_system_spark.sources.lake_core import (
    _prune_dml_paths,
)
from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
    _add_bucket_column,
    _declared_types,
    _prev_state,
    delete_where_iceberg,
    merge_iceberg,
    read_iceberg_table,
    read_table,
    rewrite_data_files_iceberg,
    update_where_iceberg,
    write_iceberg,
)
from hainan_big_data_recommend_system_spark.sources.lake_core import (
    bucket_value,
    murmur3_32,
    parse_partition_transforms,
    transform_constraint_spellings,
    transform_spelling,
)


def _day_table(spark, tmp_path, name, days=5, per_day=10):
    tbl = str(tmp_path / name)
    rows = [
        (i, datetime.datetime(2026, 1, 1 + i % days, 10, 0, 0), f"v{i}")
        for i in range(days * per_day)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v string")
    write_iceberg(df, tbl, partition_by=["days(ts)"])
    return tbl


class TestTransformParsing:
    def test_forms(self):
        got = parse_partition_transforms(
            ["days(ts)", "bucket(16, id)", "truncate(4, s)", "plain"])
        assert [f["name"] for f in got] == [
            "ts_day", "id_bucket", "s_trunc", "plain"]
        assert [f["transform"] for f in got] == [
            "day", "bucket[16]", "truncate[4]", "identity"]

    def test_rejects_malformed(self):
        with pytest.raises(ValueError, match="positive width"):
            parse_partition_transforms(["bucket(0, id)"])
        with pytest.raises(ValueError, match="days\\(\\) takes no"):
            parse_partition_transforms(["days(3, ts)"])
        with pytest.raises(ValueError, match="unparseable"):
            parse_partition_transforms(["hours(ts)"])


class TestBucketHash:
    def test_spec_known_answer(self):
        # Iceberg spec Appendix B: hash(34L) == 2017239379
        assert murmur3_32((34).to_bytes(8, "little",
                                        signed=True)) == 2017239379

    def test_jvm_matches_python(self, spark):
        random.seed(13)
        vals = ([0, 1, -1, 34, 2**31, -2**31, 2**63 - 1, -2**63]
                + [random.randint(-2**63, 2**63 - 1)
                   for _ in range(200)])
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = [r["b"] for r in
               _add_bucket_column(df, "v", 16, "b").collect()]
        assert got == [str(bucket_value(v, 16)) for v in vals]


class TestSpellings:
    FIELD_DAY = {"name": "ts_day", "transform": "day", "source": "ts",
                 "param": None}
    FIELD_B = {"name": "id_bucket", "transform": "bucket[8]",
               "source": "id", "param": 8}
    FIELD_T = {"name": "id_trunc", "transform": "truncate[100]",
               "source": "id", "param": 100}

    def test_day(self):
        assert transform_spelling(self.FIELD_DAY,
                                  "2026-01-02 03:04:05") == "2026-01-02"
        assert transform_spelling(
            self.FIELD_DAY, datetime.date(2026, 1, 2)) == "2026-01-02"
        assert transform_spelling(self.FIELD_DAY, "garbage") is None

    def test_day_range_enumerates(self):
        sp = transform_constraint_spellings(
            self.FIELD_DAY,
            {"eq": None, "lo": "2026-01-02", "hi": "2026-01-04"},
            src_type="timestamp")
        assert sp == {"2026-01-02", "2026-01-03", "2026-01-04"}

    def test_day_unbounded_range_skips(self):
        assert transform_constraint_spellings(
            self.FIELD_DAY,
            {"eq": None, "lo": "2026-01-02", "hi": None},
            src_type="timestamp") is None

    def test_truncate_range(self):
        sp = transform_constraint_spellings(
            self.FIELD_T, {"eq": None, "lo": 150, "hi": 310},
            src_type="long")
        assert sp == {"100", "200", "300"}

    def test_bucket_eq_only(self):
        sp = transform_constraint_spellings(
            self.FIELD_B, {"eq": {34}, "lo": None, "hi": None},
            src_type="long")
        assert sp == {str(bucket_value(34, 8))}
        assert transform_constraint_spellings(
            self.FIELD_B, {"eq": None, "lo": 1, "hi": 5},
            src_type="long") is None

    def test_type_mismatch_abstains(self):
        """ADVICE r13 high: a literal whose Python type mismatches the
        declared source type must yield NO spelling (keep the file) —
        '42' on a bucketed long column hashes into a different bucket
        than the int64 the writer derived."""
        # string literal against an int-family bucket source
        assert transform_constraint_spellings(
            self.FIELD_B, {"eq": {"42"}, "lo": None, "hi": None},
            src_type="long") is None
        # int literal against a string bucket source
        assert transform_constraint_spellings(
            self.FIELD_B, {"eq": {42}, "lo": None, "hi": None},
            src_type="string") is None
        # string literal against an int truncate source ('123' would
        # spell '123' while the true spelling is '120')
        assert transform_constraint_spellings(
            self.FIELD_T, {"eq": {"123"}, "lo": None, "hi": None},
            src_type="long") is None
        # unknown declared type: never provable
        assert transform_constraint_spellings(
            self.FIELD_B, {"eq": {34}, "lo": None, "hi": None}) is None
        # day transform on a non-temporal source: abstain
        assert transform_constraint_spellings(
            self.FIELD_DAY,
            {"eq": {"2026-01-02"}, "lo": None, "hi": None},
            src_type="string") is None
        # matched types still spell
        assert transform_constraint_spellings(
            self.FIELD_DAY,
            {"eq": {"2026-01-02"}, "lo": None, "hi": None},
            src_type="date") == {"2026-01-02"}


class TestDayPartitionedLifecycle:
    def test_spec_recorded_and_inherited(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "t1")
        st = _prev_state(tbl)
        assert st["partition_spec"] == [
            {"name": "ts_day", "transform": "day", "source": "ts",
             "param": None}
        ]
        # appends inherit without re-declaring
        more = spark.createDataFrame(
            [(900, datetime.datetime(2026, 1, 9, 1, 0, 0), "x")],
            "id long, ts timestamp, v string")
        write_iceberg(more, tbl)
        st = _prev_state(tbl)
        assert any(v.get("ts_day") == "2026-01-09"
                   for v in st["partition_values"].values())
        # the derived column is metadata, not data
        import os

        files = sorted(st["live"])
        cols = [f.name for f in spark.read.parquet(
            *[os.path.join(tbl, p) for p in files]).schema.fields]
        assert "ts_day" not in cols and "ts" in cols

    def test_range_delete_prunes_days(self, spark, tmp_path):
        tbl = _day_table(spark, tmp_path, "t2")
        st = _prev_state(tbl)
        n_files = len(st["live"])
        paths, counts = _prune_dml_paths(
            tbl, st, "ts >= '2026-01-02' AND ts < '2026-01-03'",
            declared=_declared_types(st),
            transforms=st["partition_spec"],
        )
        # only the 2026-01-02 (and conservatively -03) partitions open
        assert counts["n_partition_skipped"] >= n_files * 3 // 5
        kept_days = {
            st["partition_values"][p]["ts_day"] for p in paths
        }
        assert "2026-01-01" not in kept_days
        assert "2026-01-02" in kept_days
        res = delete_where_iceberg(
            spark, tbl,
            "ts >= '2026-01-02 00:00:00' AND ts <= '2026-01-02 23:59:59'",
        )
        assert res["n_rows_deleted"] == 10
        assert read_table(tbl)["live_rows_after_deletes"] == 40

    def test_update_moves_row_across_day_partitions(self, spark,
                                                    tmp_path):
        tbl = _day_table(spark, tmp_path, "t3")
        res = update_where_iceberg(
            spark, tbl, "id = 0",
            {"ts": "timestamp'2026-02-01 00:00:00'"})
        assert res["n_rows_updated"] == 1
        st = _prev_state(tbl)
        assert any(v.get("ts_day") == "2026-02-01"
                   for v in st["partition_values"].values())
        assert read_table(tbl)["live_rows_after_deletes"] == 50

    def test_merge_and_compaction_on_hidden_table(self, spark,
                                                  tmp_path):
        from hainan_big_data_recommend_system_spark.sources.iceberg_sink import (
            _alive_rows_with_positions,
        )

        def alive(tbl):
            return sorted(
                (r["id"], r["v"]) for r in _alive_rows_with_positions(
                    spark, tbl, _prev_state(tbl)
                ).select("id", "v").collect()
            )

        tbl = _day_table(spark, tmp_path, "t4")
        src = spark.createDataFrame(
            [(0, datetime.datetime(2026, 1, 1, 10, 0, 0), "NEW"),
             (999, datetime.datetime(2026, 3, 1, 0, 0, 0), "ins")],
            "id long, ts timestamp, v string")
        merge_iceberg(spark, src, tbl, key_cols=["id"])
        # live_rows_after_deletes is metadata-only (it cannot count
        # equality-deleted rows without a scan) — count the real rows
        before = alive(tbl)
        assert len(before) == 51
        assert (0, "NEW") in dict(before).items()
        r = rewrite_data_files_iceberg(spark, tbl)
        assert r["version"] is not None
        assert alive(tbl) == before


class TestStringBucket:
    def test_jvm_matches_python_on_strings(self, spark):
        vals = ["", "a", "iceberg", "doc-12345", "日本語", "emoji😀",
                "abc", "abcd", "abcde", "x" * 33]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        got = [r["b"] for r in
               _add_bucket_column(df, "v", 16, "b").collect()]
        assert got == [str(bucket_value(v, 16)) for v in vals]
        # the spec's own string known-answer: hash("iceberg")
        assert murmur3_32("iceberg".encode()) == 1210000089

    def test_string_bucket_table_prunes(self, spark, tmp_path):
        tbl = str(tmp_path / "sbt")
        df = spark.createDataFrame(
            [(f"doc-{i}", i) for i in range(64)],
            "doc_id string, n long")
        write_iceberg(df, tbl, partition_by=["bucket(8, doc_id)"])
        st = _prev_state(tbl)
        paths, counts = _prune_dml_paths(
            tbl, st, "doc_id = 'doc-34'",
            declared=_declared_types(st),
            transforms=st["partition_spec"],
        )
        want = str(bucket_value("doc-34", 8))
        assert all(
            st["partition_values"][p]["doc_id_bucket"] == want
            for p in paths
        )
        assert counts["n_partition_skipped"] > 0
        res = delete_where_iceberg(spark, tbl, "doc_id = 'doc-34'")
        assert res["n_rows_deleted"] == 1
        assert read_table(tbl)["live_rows_after_deletes"] == 63


class TestBucketPartitionedTable:
    def test_point_lookup_prunes_buckets(self, spark, tmp_path):
        tbl = str(tmp_path / "bt")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, v string")
        write_iceberg(df, tbl, partition_by=["bucket(8, id)"])
        st = _prev_state(tbl)
        assert st["partition_spec"][0]["transform"] == "bucket[8]"
        paths, counts = _prune_dml_paths(
            tbl, st, "id = 34", declared=_declared_types(st),
            transforms=st["partition_spec"],
        )
        want = str(bucket_value(34, 8))
        assert all(
            st["partition_values"][p]["id_bucket"] == want
            for p in paths
        )
        assert counts["n_partition_skipped"] > 0
        res = delete_where_iceberg(spark, tbl, "id = 34")
        assert res["n_rows_deleted"] == 1
        assert read_table(tbl)["live_rows_after_deletes"] == 63

    def test_string_literal_on_long_bucket_not_mispruned(
            self, spark, tmp_path):
        """ADVICE r13 high, end-to-end: DELETE WHERE id = '42' on a
        bucket[8](id) LONG column.  Spark's coercing filter matches
        the id=42 row; the pruner must NOT spell '42' as a string
        bucket (a different bucket than int64 42's) and skip the
        file holding it."""
        tbl = str(tmp_path / "bt2")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, v string")
        write_iceberg(df, tbl, partition_by=["bucket(8, id)"])
        st = _prev_state(tbl)
        # the pruner abstains entirely on the mistyped literal: every
        # live file stays a candidate
        paths, counts = _prune_dml_paths(
            tbl, st, "id = '42'", declared=_declared_types(st),
            transforms=st["partition_spec"],
        )
        assert counts["n_partition_skipped"] == 0
        assert set(paths) == set(st["live"])
        res = delete_where_iceberg(spark, tbl, "id = '42'")
        assert res["n_rows_deleted"] == 1
        assert read_table(tbl)["live_rows_after_deletes"] == 63


class TestTruncatePartitionedTable:
    def test_string_prefix_partitioning(self, spark, tmp_path):
        tbl = str(tmp_path / "tt")
        df = spark.createDataFrame(
            [(i, f"{chr(97 + i % 4)}xyz{i}") for i in range(40)],
            "id long, s string")
        write_iceberg(df, tbl, partition_by=["truncate(1, s)"])
        st = _prev_state(tbl)
        vals = {v["s_trunc"] for v in st["partition_values"].values()}
        assert vals == {"a", "b", "c", "d"}
        paths, counts = _prune_dml_paths(
            tbl, st, "s = 'axyz0'", declared=_declared_types(st),
            transforms=st["partition_spec"],
        )
        assert all(
            st["partition_values"][p]["s_trunc"] == "a" for p in paths
        )
        assert counts["n_partition_skipped"] > 0


class TestReplaceWhereOverTransforms:
    """Round 14 (VERDICT r13 next-round #5): ``replace_where`` accepts
    whole-partition-aligned SOURCE-column ranges on transform
    partitioning — the daily-reload pattern — and refuses anything not
    provably partition-exact."""

    def _day_tbl(self, spark, tmp_path, name):
        import datetime

        rows = [(i, datetime.datetime(2026, 1, 2 + d, 10, 0), f"o{i}")
                for d in range(3) for i in range(4)]
        df = spark.createDataFrame(rows,
                                   "id long, ts timestamp, v string")
        tbl = str(tmp_path / name)
        write_iceberg(df.repartition(1), tbl,
                      partition_by=["days(ts)"])
        return tbl

    def test_daily_reload_replaces_one_day(self, spark, tmp_path):
        import datetime

        tbl = self._day_tbl(spark, tmp_path, "dr")
        st0 = _prev_state(tbl)
        before, before_pv = dict(st0["live"]), st0["partition_values"]
        new = spark.createDataFrame(
            [(99, datetime.datetime(2026, 1, 3, 5, 0), "NEW")],
            "id long, ts timestamp, v string")
        res = write_iceberg(
            new, tbl, mode="overwrite",
            replace_where="ts >= '2026-01-03' AND ts < '2026-01-04'")
        assert res["n_removed"] == 1
        after = _prev_state(tbl)
        # every other partition's file is byte-untouched
        others = {p: m for p, m in before.items()
                  if before_pv.get(p, {}).get("ts_day")
                  != "2026-01-03"}
        assert others and all(after["live"].get(p) == m
                              for p, m in others.items())
        got = sorted(
            (r["id"], r["v"])
            for r in read_iceberg_table(spark, tbl).collect()
            if r["ts"].day == 3)
        assert got == [(99, "NEW")]

    def test_misaligned_range_refused(self, spark, tmp_path):
        import datetime

        tbl = self._day_tbl(spark, tmp_path, "mis")
        new = spark.createDataFrame(
            [(99, datetime.datetime(2026, 1, 3, 5, 0), "NEW")],
            "id long, ts timestamp, v string")
        with pytest.raises(ValueError, match="midnight"):
            write_iceberg(
                new, tbl, mode="overwrite",
                replace_where=("ts >= '2026-01-03 06:00:00' "
                               "AND ts < '2026-01-04'"))
        with pytest.raises(ValueError, match="half-open"):
            write_iceberg(
                new, tbl, mode="overwrite",
                replace_where=("ts > '2026-01-03' "
                               "AND ts < '2026-01-04'"))
        with pytest.raises(ValueError, match="equality"):
            write_iceberg(
                new, tbl, mode="overwrite",
                replace_where="ts = '2026-01-03'")
        with pytest.raises(ValueError, match="bounded"):
            write_iceberg(
                new, tbl, mode="overwrite",
                replace_where="ts >= '2026-01-03'")

    def test_bucket_refused_truncate_aligned(self, spark, tmp_path):
        tbl = str(tmp_path / "tr")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "id long, v string")
        write_iceberg(df.repartition(1), tbl,
                      partition_by=["truncate(10, id)"])
        new = spark.createDataFrame([(15, "NEW")],
                                    "id long, v string")
        res = write_iceberg(
            new, tbl, mode="overwrite",
            replace_where="id >= 10 AND id < 20")
        assert res["n_removed"] == 1
        got = sorted(
            r["id"] for r in read_iceberg_table(spark, tbl).collect()
            if 10 <= r["id"] < 20)
        assert got == [15]
        # unaligned truncate range refused
        with pytest.raises(ValueError, match="aligned"):
            write_iceberg(new, tbl, mode="overwrite",
                          replace_where="id >= 12 AND id < 20")
        # bucket never aligns
        tblb = str(tmp_path / "bk")
        write_iceberg(df, tblb, partition_by=["bucket(4, id)"])
        with pytest.raises(ValueError, match="bucket"):
            write_iceberg(new, tblb, mode="overwrite",
                          replace_where="id >= 10 AND id < 20")

    def test_delta_generated_twin(self, spark, tmp_path):
        import datetime

        from hainan_big_data_recommend_system_spark.sources.delta_sink import (  # noqa: E501
            read_delta_table,
            snapshot,
            snapshot_as_of,
            write_delta,
        )

        rows = [(i, datetime.datetime(2026, 1, 2 + d, 10, 0), f"o{i}")
                for d in range(3) for i in range(4)]
        df = spark.createDataFrame(rows,
                                   "id long, ts timestamp, v string")
        tbl = str(tmp_path / "ddr")
        write_delta(df.repartition(1), tbl, partition_by=["days(ts)"])
        new = spark.createDataFrame(
            [(99, datetime.datetime(2026, 1, 3, 5, 0), "NEW")],
            "id long, ts timestamp, v string")
        # the generated partitioning is INHERITED: no partition_by
        res = write_delta(
            new, tbl, mode="overwrite",
            replace_where="ts >= '2026-01-03' AND ts < '2026-01-04'")
        assert res["n_removed"] == 1
        pre = snapshot_as_of(tbl, 0)["live"]
        post = snapshot(tbl)["live"]
        assert sum(1 for p, m in pre.items()
                   if post.get(p) == m) == len(pre) - 1
        got = sorted(
            (r["id"], r["v"])
            for r in read_delta_table(spark, tbl).collect()
            if r["ts"].day == 3)
        assert got == [(99, "NEW")]
