"""Invariants for manifest-based snapshot versioning that the oracle query
can't see: immutability of old snapshots under later commits, atomic
publish (no partial manifests), duplicate-version refusal, and rollback
being a metadata-only operation."""

from __future__ import annotations

import json
import os

import pytest

from data_integration_and_processing_spark.sources.versioned import (
    list_versions,
    read_version,
    rollback,
    write_version,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(10)], "id LONG, s STRING")
    df2 = spark.createDataFrame([(i, f"b{i}") for i in range(10, 15)], "id LONG, s STRING")
    assert write_version(df1, path, mode="overwrite") == 1
    assert write_version(df2, path, mode="append") == 2
    return path


def test_snapshots_are_immutable_under_later_commits(spark, table):
    ids_v1_before = sorted(r.id for r in read_version(spark, table, 1).collect())
    df3 = spark.createDataFrame([(99, "z")], "id LONG, s STRING")
    write_version(df3, table, mode="overwrite")  # v3 replaces everything
    assert sorted(r.id for r in read_version(spark, table, 1).collect()) == ids_v1_before
    assert sorted(r.id for r in read_version(spark, table, 2).collect()) == list(range(15))
    assert [r.id for r in read_version(spark, table, 3).collect()] == [99]
    assert [r.id for r in read_version(spark, table).collect()] == [99]  # latest


def test_append_reuses_parent_files_verbatim(spark, table):
    with open(os.path.join(table, "_versions", "v1.json")) as f:
        v1_files = set(json.load(f)["files"])
    with open(os.path.join(table, "_versions", "v2.json")) as f:
        v2 = json.load(f)
    assert v1_files < set(v2["files"]) and v2["parent"] == 1 and v2["op"] == "append"


def test_rollback_is_metadata_only_and_restores_contents(spark, table):
    def data_files():
        out = set()
        for root, _dirs, files in os.walk(os.path.join(table, "data")):
            out |= {os.path.join(root, f) for f in files if f.endswith(".parquet")}
        return out

    before = data_files()
    v = rollback(table, 1)
    assert v == 3 and data_files() == before  # no data plane movement
    assert sorted(r.id for r in read_version(spark, table, 3).collect()) == list(range(10))
    assert list_versions(table) == [1, 2, 3]


def test_duplicate_version_commit_is_refused(spark, table, tmp_path):
    # simulate a racing writer that computed the same version number
    from data_integration_and_processing_spark.sources import versioned

    df = spark.createDataFrame([(1, "x")], "id LONG, s STRING")
    files = versioned._write_data_files(df, table)
    with pytest.raises(FileExistsError):
        versioned._publish(table, 2, files, 1, "append")


def test_publish_loses_to_a_competitor_landing_after_the_temp_write(tmp_path, monkeypatch):
    # a competing writer publishes v1 between this writer's temp-file write
    # and its publish: the publish must refuse, not replace the competitor
    from types import SimpleNamespace

    from data_integration_and_processing_spark.sources import versioned

    table = str(tmp_path / "race")
    final = os.path.join(table, "_versions", "v1.json")
    competitor = b'{"version": 1, "parent": null, "op": "competitor", "files": []}'

    def dump_then_compete(obj, f):
        json.dump(obj, f)
        with open(final, "wb") as g:
            g.write(competitor)

    monkeypatch.setattr(versioned, "json", SimpleNamespace(dump=dump_then_compete, load=json.load))
    with pytest.raises(FileExistsError):
        versioned._publish(table, 1, ["a.parquet"], None, "append")
    with open(final, "rb") as f:
        assert f.read() == competitor
    assert os.listdir(os.path.dirname(final)) == ["v1.json"]  # no temp file left


def test_read_unknown_version_or_empty_table_raises(spark, table, tmp_path):
    with pytest.raises(ValueError, match="version 9"):
        read_version(spark, table, 9)
    with pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path / "nope"))


class TestVacuum:
    def test_vacuum_keeps_retained_versions_readable(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            list_versions,
            read_version,
            vacuum,
            write_version,
        )

        path = str(tmp_path / "vt")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write_version(n.limit(5), path, mode="overwrite")   # v1
        write_version(n.limit(3), path, mode="append")      # v2
        write_version(n.limit(2), path, mode="overwrite")   # v3
        write_version(n.limit(1), path, mode="append")      # v4
        report = vacuum(path, keep_last=2)
        assert report["versions_removed"] == 2
        assert list_versions(path) == [3, 4]
        # retained versions read intact
        assert read_version(spark, path, 3).count() == 2
        assert read_version(spark, path, 4).count() == 3
        # expired versions are gone
        import pytest as _pytest
        with _pytest.raises(ValueError):
            read_version(spark, path, 1)

    def test_vacuum_never_deletes_files_shared_with_retained(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            _read_manifest,
            vacuum,
            write_version,
        )
        import os as _os

        path = str(tmp_path / "vt2")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write_version(n.limit(5), path, mode="overwrite")   # v1
        write_version(n.limit(3), path, mode="append")      # v2 shares v1's files
        write_version(n.limit(2), path, mode="append")      # v3 shares v1+v2's
        vacuum(path, keep_last=2)  # v1 expires, but its files live on in v2/v3
        for v in (2, 3):
            for f in _read_manifest(path, v)["files"]:
                assert _os.path.exists(f), f"retained manifest v{v} lost {f}"

    def test_vacuum_idempotent_and_bounds(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import vacuum, write_version
        import pytest as _pytest

        path = str(tmp_path / "vt3")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write_version(n.limit(2), path, mode="overwrite")
        assert vacuum(path, keep_last=5)["versions_removed"] == 0
        second = vacuum(path, keep_last=1)
        assert second["versions_removed"] == 0 and second["files_removed"] == 0
        with _pytest.raises(ValueError):
            vacuum(path, keep_last=0)


class TestManifestStatsPruning:
    def test_pruned_read_skips_files_and_matches_full_filter(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.sources.versioned import (
            read_version_pruned,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_stats")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        # range-partition on the predicate column so files have tight ranges
        write_version_with_stats(
            orders.repartitionByRange(8, "o_totalprice"), dest, mode="overwrite"
        )
        df, audit = read_version_pruned(
            spark, dest, [("o_totalprice", ">=", 400000.0)]
        )
        assert audit["files_read"] < audit["total_files"], audit
        got = sorted(
            r["o_orderkey"]
            for r in df.filter(F.col("o_totalprice") >= 400000.0).select("o_orderkey").collect()
        )
        want = sorted(
            r["o_orderkey"]
            for r in orders.filter(F.col("o_totalprice") >= 400000.0).select("o_orderkey").collect()
        )
        assert got == want and got

    def test_append_merges_parent_stats(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            _read_manifest,
            list_versions,
            read_version_pruned,
            write_version_with_stats,
        )
        from pyspark.sql import functions as F

        dest = str(tmp_path / "orders_appended")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lo = orders.filter(F.col("o_totalprice") < 200000.0)
        hi = orders.filter(F.col("o_totalprice") >= 200000.0)
        write_version_with_stats(lo.repartition(2), dest, mode="overwrite")
        write_version_with_stats(hi.repartition(2), dest, mode="append")
        v = list_versions(dest)[-1]
        m = _read_manifest(dest, v)
        assert set(m["stats"]) == set(m["files"])  # parent + new stats merged
        _, audit = read_version_pruned(spark, dest, [("o_totalprice", "<", 100000.0)])
        # the hi-half files must be pruned
        assert audit["files_read"] <= audit["total_files"] - 2

    def test_all_pruned_returns_empty_with_schema(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            read_version_pruned,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_none")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_version_with_stats(orders.repartition(2), dest, mode="overwrite")
        df, audit = read_version_pruned(spark, dest, [("o_totalprice", ">", 1e15)])
        assert audit["files_read"] == 0
        assert df.count() == 0 and "o_orderkey" in df.columns


class TestDeleteWhere:
    def test_copy_on_write_delete_prunes_untouched_files(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.sources.versioned import (
            _read_manifest,
            delete_where,
            list_versions,
            read_version,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_del")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_version_with_stats(
            orders.repartitionByRange(8, "o_totalprice"), dest, mode="overwrite"
        )
        v1_files = set(_read_manifest(dest, 1)["files"])
        audit = delete_where(
            spark,
            dest,
            "o_totalprice >= 450000.0",
            prune=[("o_totalprice", ">=", 450000.0)],
        )
        assert audit["files_rewritten"] < audit["files_total"], audit
        assert audit["files_untouched"] > 0
        want_deleted = orders.filter(F.col("o_totalprice") >= 450000.0).count()
        assert audit["rows_deleted"] == want_deleted > 0

        # new version: no matching rows; row set equals the anti-filter
        cur = read_version(spark, dest)
        assert cur.filter(F.col("o_totalprice") >= 450000.0).count() == 0
        assert cur.count() == orders.count() - want_deleted
        # untouched files carry over by PATH (no rewrite)
        v2 = _read_manifest(dest, list_versions(dest)[-1])
        carried = v1_files & set(v2["files"])
        assert len(carried) == audit["files_untouched"]
        # stats carried/refreshed for every file in the new manifest
        assert set(v2["stats"]) >= set(v2["files"])

        # time travel: v1 still sees the deleted rows (audit trail)
        v1_df = read_version(spark, dest, 1)
        assert v1_df.filter(F.col("o_totalprice") >= 450000.0).count() == want_deleted

    def test_no_candidates_is_a_no_op(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            delete_where,
            list_versions,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_noop")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_version_with_stats(orders.repartitionByRange(4, "o_totalprice"), dest, mode="overwrite")
        audit = delete_where(
            spark, dest, "o_totalprice > 1e15", prune=[("o_totalprice", ">", 1e15)]
        )
        assert audit["files_rewritten"] == 0 and audit["rows_deleted"] == 0
        assert list_versions(dest) == [1]  # nothing published


class TestUpdateWhere:
    def test_copy_on_write_update(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from data_integration_and_processing_spark.sources.versioned import (
            _read_manifest,
            list_versions,
            read_version,
            update_where,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_upd")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_version_with_stats(
            orders.repartitionByRange(8, "o_totalprice"), dest, mode="overwrite"
        )
        v1_files = set(_read_manifest(dest, 1)["files"])
        audit = update_where(
            spark,
            dest,
            "o_totalprice >= 450000.0",
            {"o_orderpriority": "'5-LOW'", "o_totalprice": "o_totalprice * 0.9"},
            prune=[("o_totalprice", ">=", 450000.0)],
        )
        n_match = orders.filter(F.col("o_totalprice") >= 450000.0).count()
        assert audit["rows_updated"] == n_match > 0
        assert 0 < audit["files_rewritten"] < audit["files_total"]

        cur = read_version(spark, dest)
        assert cur.count() == orders.count()  # UPDATE never changes cardinality
        # all previously-matching rows now discounted and re-prioritized
        assert cur.filter(F.col("o_totalprice") >= 450000.0).count() == 0
        assert (
            cur.filter(F.col("o_orderpriority") == "5-LOW").count()
            >= n_match
        )
        # untouched files carry by path; v1 unchanged
        v2 = _read_manifest(dest, list_versions(dest)[-1])
        assert v1_files & set(v2["files"])
        assert read_version(spark, dest, 1).filter(
            F.col("o_totalprice") >= 450000.0
        ).count() == n_match


class TestOptimize:
    def test_compaction_preserves_contents_and_history(self, spark, sf_dir, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            optimize,
            read_version,
            write_version_with_stats,
        )

        dest = str(tmp_path / "orders_opt")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_version_with_stats(orders.repartition(16), dest, mode="overwrite")
        audit = optimize(spark, dest, target_files=3)
        assert audit["files_before"] == 16 and audit["files_after"] <= 3
        cur = read_version(spark, dest)
        assert sorted(r["o_orderkey"] for r in cur.select("o_orderkey").collect()) == sorted(
            r["o_orderkey"] for r in orders.select("o_orderkey").collect()
        )
        # fragmented version still readable (history intact until vacuum)
        v1 = read_version(spark, dest, 1)
        assert v1.count() == orders.count()
        # idempotent below target
        again = optimize(spark, dest, target_files=3)
        assert again["skipped"] is True


def test_optimize_with_sort_cols_keeps_stats_tight(spark, sf_dir, tmp_path):
    from data_integration_and_processing_spark.sources.versioned import (
        _read_manifest,
        list_versions,
        optimize,
        read_version_pruned,
        write_version_with_stats,
    )

    dest = str(tmp_path / "orders_opt_sorted")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_version_with_stats(orders.repartition(16), dest, mode="overwrite")
    optimize(spark, dest, target_files=4, sort_cols=["o_totalprice"])
    # clustering restored: a selective range predicate prunes files again
    _, audit = read_version_pruned(spark, dest, [("o_totalprice", ">=", 450000.0)])
    assert audit["files_read"] < audit["total_files"], audit
    m = _read_manifest(dest, list_versions(dest)[-1])
    assert set(m["stats"]) == set(m["files"])


class TestMergeInto:
    def _fresh(self, spark, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import write_version

        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")], "k long, v double, tag string"
        )
        write_version(base, path, mode="overwrite")
        return path

    def test_mixed_clauses_one_commit(self, spark, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            merge_into,
            read_version,
        )

        path = self._fresh(spark, tmp_path)
        source = spark.createDataFrame(
            [
                (1, 11.0, "a2", 0),   # matched -> update
                (2, 0.0, "x", 1),     # matched + _del -> delete
                (9, 90.0, "new", 0),  # not matched -> insert
            ],
            "k long, v double, tag string, _del int",
        )
        v = merge_into(spark, path, source, on=["k"], delete_condition="s._del = 1")
        got = sorted(tuple(r) for r in read_version(spark, path, v).collect())
        assert got == [(1, 11.0, "a2"), (3, 30.0, "c"), (9, 90.0, "new")]

    def test_no_insert_mode_and_partial_update_cols(self, spark, tmp_path):
        from data_integration_and_processing_spark.sources.versioned import (
            merge_into,
            read_version,
        )

        path = self._fresh(spark, tmp_path)
        source = spark.createDataFrame(
            [(1, 99.0, "IGNORED"), (9, 90.0, "new")], "k long, v double, tag string"
        )
        v = merge_into(
            spark, path, source, on=["k"], update_cols=["v"], insert_not_matched=False
        )
        got = sorted(tuple(r) for r in read_version(spark, path, v).collect())
        # tag untouched (not in update_cols); key 9 NOT inserted
        assert got == [(1, 99.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")]

    def test_duplicate_source_keys_rejected(self, spark, tmp_path):
        import pytest
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import SparkRuntimeException

        from data_integration_and_processing_spark.sources.versioned import merge_into

        path = self._fresh(spark, tmp_path)
        source = spark.createDataFrame(
            [(1, 1.0, "x"), (1, 2.0, "y")], "k long, v double, tag string"
        )
        with pytest.raises((SparkRuntimeException, Py4JJavaError, Exception), match="duplicate source keys"):
            merge_into(spark, path, source, on=["k"])
