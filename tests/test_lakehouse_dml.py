"""Row-level DML in the default (fast) tier: every body of the shared
DML core in ``sources/lakehouse.py`` — copy-on-write UPDATE WHERE and
REPLACE WHERE, merge-on-read UPDATE WHERE and MERGE, and the
sidecar-safe commit of each merge-on-read op when it loses the commit
race. (Copy-on-write MERGE and merge-on-read DELETE are covered in
``test_merge_cdf.py``; the rest of the lakehouse suite lives in the
slow ``test_lakehouse*.py`` modules.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from luma_etl_data_platform_spark.sources import lakehouse as LH
from tests.conftest import _mk


def _rows(df):
    return sorted((r["k"], r["v"], r["tag"]) for r in df.collect())


def _dv_on_disk(path):
    dv_dir = os.path.join(path, "_dv")
    if not os.path.isdir(dv_dir):
        return []
    return sorted(n for n in os.listdir(dv_dir) if n.endswith(".parquet"))


def test_replace_where_atomic_backfill(tmp_path, spark):
    """replace_where: one commit deletes the predicate slice and
    lands the replacement (atomic; idempotent re-run); out-of-
    predicate rows refuse under validation; an empty existing slice
    degrades to insert-only; time travel and the change feed see one
    clean delete+insert version."""
    path = str(tmp_path / "rw")
    LH.create_table(spark, path, spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(30)],
        "k long, d long, v long").repartition(3), ["k"],
        partition_by=["d"])
    new = spark.createDataFrame([(100 + i, 1, 999) for i in range(5)],
                                "k long, d long, v long")
    st = LH.replace_where(spark, path, new, "d = 1")
    assert st["n_rows_changed"] == 10 and st["n_rows_inserted"] == 5
    assert st["n_files_carried"] > 0
    got = LH.read_table(spark, path)
    assert got.filter("d = 1").count() == 5
    assert got.count() == 25
    assert {r["v"] for r in got.filter("d = 1").collect()} == {999}
    # idempotent re-run: same end state
    LH.replace_where(spark, path, new, "d = 1")
    assert LH.read_table(spark, path).count() == 25
    # validation: a row outside the predicate refuses
    with pytest.raises(ValueError, match="do NOT satisfy"):
        LH.replace_where(spark, path, spark.createDataFrame(
            [(200, 2, 1)], "k long, d long, v long"), "d = 1")
    # ... unless explicitly overridden
    LH.replace_where(spark, path, spark.createDataFrame(
        [(200, 2, 1)], "k long, d long, v long"), "d = 1",
        validate=False)
    # empty existing slice: insert-only commit
    st3 = LH.replace_where(spark, path, spark.createDataFrame(
        [(300, 7, 1)], "k long, d long, v long"), "d = 7")
    assert st3["n_files_rewritten"] == 0 and st3["n_rows_inserted"] == 1
    # history: the pre-backfill slice is still time-travelable and
    # the replace version's change feed is delete+insert only
    assert LH.read_table(spark, path, version=1).filter("d = 1") \
        .count() == 10
    types = {r["_change_type"] for r in
             LH.read_changes(spark, path, 1, 2).collect()}
    assert types == {"delete", "insert"}


def test_update_where_pre_image_semantics(table, spark):
    # every RHS sees the PRE-update row: v appears both in the
    # condition and in its own RHS, and tag's RHS reads the old v
    res = LH.update_where(spark, table, "v >= 110",
                          {"v": "v + k", "tag": F.expr("concat(tag, v)")})
    assert res["n_rows_changed"] == 4
    assert res["n_files_carried"] == 1
    assert _rows(LH.read_table(spark, table)) == [
        (1, 10, "a"), (2, 20, "a"),
        (11, 121, "b110"), (12, 132, "b120"),
        (21, 231, "c210"), (22, 242, "c220")]


def test_mor_update_writes_dv_plus_small_file(table, spark):
    files_before = set(LH.snapshot_files(spark, table))
    mtimes = {f: os.path.getmtime(f.replace("file:", ""))
              for f in files_before}
    # RHS sees the pre-update row; v appears in both condition and RHS
    res = LH.update_where(spark, table, "v >= 110",
                          {"v": "v + k", "tag": F.expr("concat(tag, v)")},
                          mode="mor")
    assert res["n_rows_updated"] == 4 and res["n_files_added"] >= 1
    # originals all still present and untouched; only ADDED files new
    after = set(LH.snapshot_files(spark, table))
    assert files_before < after
    for f, m in mtimes.items():
        assert os.path.getmtime(f.replace("file:", "")) == m
    assert _rows(LH.read_table(spark, table)) == [
        (1, 10, "a"), (2, 20, "a"),
        (11, 121, "b110"), (12, 132, "b120"),
        (21, 231, "c210"), (22, 242, "c220")]
    # time travel to the pre-update version
    assert _rows(LH.read_table(spark, table, version=3)) == [
        (1, 10, "a"), (2, 20, "a"), (11, 110, "b"),
        (12, 120, "b"), (21, 210, "c"), (22, 220, "c")]
    # purge: compaction materializes, content identical
    LH.compact(spark, table, target_rows=100)
    assert _rows(LH.read_table(spark, table)) == [
        (1, 10, "a"), (2, 20, "a"),
        (11, 121, "b110"), (12, 132, "b120"),
        (21, 231, "c210"), (22, 242, "c220")]


def test_mor_update_cdf_and_constraints(table, spark):
    v0 = LH.current_version(spark, table)
    LH.update_where(spark, table, "k = 12", {"v": "v + 1"}, mode="mor")
    feed = LH.read_changes(spark, table, v0, v0 + 1)
    assert sorted((r["k"], r["v"], r["_change_type"])
                  for r in feed.collect()) == [
        (12, 120, "delete"), (12, 121, "insert")]
    LH.add_constraint(spark, table, "v_cap", "v <= 1000")
    with pytest.raises(LH.ConstraintViolationError):
        LH.update_where(spark, table, "k = 1", {"v": "v + 100000"},
                        mode="mor")
    # nothing committed by the failed write; no stray rows
    assert LH.read_table(spark, table).count() == 6
    # no-op MOR update commits nothing
    v = LH.current_version(spark, table)
    res = LH.update_where(spark, table, "k = 999", {"v": "0"}, mode="mor")
    assert res["n_rows_updated"] == 0
    assert LH.current_version(spark, table) == v


def test_mor_merge_upsert_without_rewrites(table, spark):
    files_before = set(LH.snapshot_files(spark, table))
    mtimes = {f: os.path.getmtime(f.replace("file:", ""))
              for f in files_before}
    src = _mk(spark, [dict(k=1, v=1000, tag="upd"),
                      dict(k=11, v=0, tag="del"),
                      dict(k=99, v=990, tag="new")])
    res = LH.merge_into(spark, table, src, ["k"],
                        update_set="all",
                        delete_condition=F.col("src.tag") == "del",
                        mode="mor")
    assert res["n_rows_modified"] == 2       # k=1 updated, k=11 deleted
    assert res["n_files_added"] >= 1         # post-image + insert
    # zero rewrites: every original file still live and untouched
    assert files_before < set(LH.snapshot_files(spark, table))
    for f, m in mtimes.items():
        assert os.path.getmtime(f.replace("file:", "")) == m
    assert _rows(LH.read_table(spark, table)) == sorted([
        (1, 1000, "upd"), (2, 20, "a"), (12, 120, "b"),
        (21, 210, "c"), (22, 220, "c"), (99, 990, "new")])
    # purge keeps content identical
    LH.compact(spark, table, target_rows=100)
    assert _rows(LH.read_table(spark, table)) == sorted([
        (1, 1000, "upd"), (2, 20, "a"), (12, 120, "b"),
        (21, 210, "c"), (22, 220, "c"), (99, 990, "new")])


def test_mor_merge_insert_only_and_noop(table, spark):
    # insert-only merge: no matched rows modified → no DV at all
    src = _mk(spark, [dict(k=100, v=1, tag="n")])
    res = LH.merge_into(spark, table, src, ["k"],
                        update_set=None, mode="mor")
    assert res["n_rows_modified"] == 0 and res["dv_file"] is None
    assert LH.read_table(spark, table).count() == 7
    assert LH.describe_table(spark, table)["n_dv_files"] == 0
    # full no-op: nothing matched, inserts disabled
    v = LH.current_version(spark, table)
    res2 = LH.merge_into(spark, table,
                         _mk(spark, [dict(k=500, v=0, tag="x")]), ["k"],
                         update_set=None, insert_when_not_matched=False,
                         mode="mor")
    assert res2["n_rows_modified"] == 0
    assert LH.current_version(spark, table) == v


# each merge-on-read op against the shared sidecar-safe commit:
# (call, result key, its expected value, live rows after)
_MOR_OPS = {
    "delete": (lambda spark, t: LH.delete_where(
        spark, t, F.col("k") == 1, mode="mor"), "n_rows_deleted", 1, 5),
    "update": (lambda spark, t: LH.update_where(
        spark, t, F.col("k") == 1, {"v": "v + 1"}, mode="mor"),
        "n_rows_updated", 1, 6),
    "merge": (lambda spark, t: LH.merge_into(
        spark, t, _mk(spark, [dict(k=1, v=0, tag="m")]), ["k"],
        mode="mor"), "n_rows_modified", 1, 6),
}


@pytest.mark.parametrize("op", sorted(_MOR_OPS))
def test_mor_conflict_does_not_leak_sidecar(table, spark, monkeypatch, op):
    """ADVICE r4 (low): a MOR writer that loses the commit race must
    delete the sidecar it wrote ahead of the commit."""
    real = LH._write_commit
    calls = {"n": 0}

    def flaky(spark_, table_path, version, doc):
        calls["n"] += 1
        if calls["n"] == 1:
            raise LH.CommitConflictError("simulated race")
        return real(spark_, table_path, version, doc)

    monkeypatch.setattr(LH, "_write_commit", flaky)
    run, key, n, live = _MOR_OPS[op]
    res = run(spark, table)
    assert res[key] == n
    # exactly ONE sidecar on disk: the loser's was cleaned up
    assert len(_dv_on_disk(table)) == 1
    assert LH.read_table(spark, table).count() == live
