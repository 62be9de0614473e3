"""Round-11 metadata-plane hardening (the four ADVICE items):

1. the ``stat_cols`` declaration written by ANALYZE is maintained the
   same way ``bloom_cols`` is — RENAME/DROP COLUMN restate it and the
   expire checkpoint carries it, so the "one ANALYZE makes skipping
   self-maintaining" contract survives schema evolution and history
   expiry;
2. ``read_table(where=)`` accepts dotted struct-field probes whose
   ROOT segment is a declared column (conservative read + exact
   residual filter — not a retired-name hazard);
3. ``analyze_table`` keys its per-file scan by the full table-relative
   path, so convert-onboarded files sharing a basename across
   partition directories analyze independently (no merged min/max, no
   permanently-unanalyzable add);
4. ``publish_staged`` tolerates an empty staged batch under
   concurrently-added constraints (vacuously satisfied, no zero-path
   parquet read) and re-checks heterogeneous batches with mergeSchema.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from luma_etl_data_platform_spark.sources import lakehouse as LH


def _mk(spark, path, n=200, files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u"))
    LH.create_table(spark, path,
                    df.repartitionByRange(files, "v")
                    .sortWithinPartitions("v"), ["k"])


def test_stat_cols_follow_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    LH.analyze_table(spark, path, stat_cols=["v"])
    assert LH._table_stat_cols(spark, path) == ["v"]
    LH.rename_column(spark, path, "v", "val")
    # declaration follows the rename (bloom_cols parity)
    assert LH._table_stat_cols(spark, path) == ["val"]
    # subsequent writers keep recording per-file stats for it
    LH.append_table(spark, path, spark.range(600, 604).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("val"),
        F.concat(F.lit("u-"), F.col("id")).alias("u")).coalesce(1))
    newest = max(LH.snapshot_adds(spark, path),
                 key=lambda a: a.get("stats", {}).get(
                     "k", {}).get("min") or 0)
    assert "val" in (newest.get("stats") or {})


def test_stat_cols_dropped_with_column(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    LH.analyze_table(spark, path, stat_cols=["v", "u"])
    LH.drop_column(spark, path, "v")
    assert LH._table_stat_cols(spark, path) == ["u"]


def test_stat_cols_survive_expire_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    LH.analyze_table(spark, path, stat_cols=["v"])
    LH.append_table(spark, path, spark.range(600, 602).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u")).coalesce(1))
    LH.expire_snapshots(spark, path, keep_last=1)
    # the checkpoint restates the declaration (like keys/bloom_cols)
    assert LH._table_stat_cols(spark, path) == ["v"]
    LH.append_table(spark, path, spark.range(700, 702).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u")).coalesce(1))
    newest = [a for a in LH.snapshot_adds(spark, path)
              if (a.get("stats") or {}).get("k", {}).get("min") == 700]
    assert newest and "v" in newest[0]["stats"]


def test_struct_field_probe_allowed(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("a"),
                 (F.col("id") * 2).alias("b")).alias("s"))
    LH.create_table(spark, path, df.coalesce(2), ["k"])
    got = LH.read_table(spark, path, where={"s.a": (10, 14)})
    assert sorted(r["k"] for r in got.collect()) == [10, 11, 12, 13, 14]
    # an unknown ROOT still fails loudly (retired-name hazard class)
    with pytest.raises(ValueError, match="predicate column"):
        LH.read_table(spark, path, where={"nope.a": (1, 2)})


def test_analyze_distinguishes_same_basename(spark, tmp_path):
    root = tmp_path / "t"
    (root / "a=1").mkdir(parents=True)
    (root / "a=2").mkdir(parents=True)
    pq.write_table(pa.table({"k": list(range(10)),
                             "v": list(range(10))}),
                   str(root / "a=1" / "part-00000.parquet"))
    pq.write_table(pa.table({"k": list(range(10, 20)),
                             "v": list(range(100, 110))}),
                   str(root / "a=2" / "part-00000.parquet"))
    path = str(root)
    LH.convert_to_table(spark, path, keys=["k"])
    LH.analyze_table(spark, path, stat_cols=["v"])
    by_path = {a["path"]: a for a in LH.snapshot_adds(spark, path)}
    s1 = by_path["a=1/part-00000.parquet"]["stats"]["v"]
    s2 = by_path["a=2/part-00000.parquet"]["stats"]["v"]
    assert (s1["min"], s1["max"]) == (0, 9)
    assert (s2["min"], s2["max"]) == (100, 109)
    assert all(a.get("rows") == 10 for a in by_path.values())
    # incremental form converges: nothing left to analyze
    rep = LH.analyze_table(spark, path, stat_cols=["v"],
                           only_missing=True)
    assert rep["n_files"] == 0


def test_publish_empty_stage_with_concurrent_constraint(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path, n=20, files=1)
    # legacy-shaped pending with ZERO add-actions (an empty batch) —
    # a constraint added while it sat staged must not crash publish
    pending = {"op": "append", "add": [], "remove": [],
               "base_version": LH.current_version(spark, path)}
    LH.add_constraint(spark, path, "v_pos", "v >= 0")
    v = LH.publish_staged(spark, path, pending)
    assert v == LH.current_version(spark, path)
    assert LH.read_table(spark, path).count() == 20


def test_publish_recheck_merges_schema(spark, tmp_path, monkeypatch):
    """A concurrently-added constraint referencing a column only some
    staged files carry: the CAS-loop re-check must read the batch
    with mergeSchema, not one sampled footer."""
    path = str(tmp_path / "t")
    _mk(spark, path, n=20, files=1)
    root = tmp_path / "t"
    pq.write_table(pa.table({"k": [1000], "v": [1], "u": ["u-x"]}),
                   str(root / ".stg-one.parquet"))
    pq.write_table(pa.table({"k": [1001], "v": [2], "u": ["u-y"],
                             "extra": [5]}),
                   str(root / ".stg-two.parquet"))
    pending = {"op": "append",
               "add": [{"path": ".stg-one.parquet"},
                       {"path": ".stg-two.parquet"}],
               "remove": [],
               "base_version": LH.current_version(spark, path)}
    real = LH.table_constraints
    calls = {"n": 0}

    def racing(sp, tp, *a, **kw):
        calls["n"] += 1
        out = dict(real(sp, tp, *a, **kw))
        if calls["n"] > 1:  # "lands" after the initial audit
            out["extra_ok"] = "extra IS NULL OR extra > 0"
        return out

    monkeypatch.setattr(LH, "table_constraints", racing)
    v = LH.publish_staged(spark, path, pending)
    assert v == LH.current_version(spark, path)
    got = LH.read_table(spark, path, merge_schema=True)
    assert got.filter(F.col("k") >= 1000).count() == 2


def test_catalog_maintenance_sweep(spark, tmp_path):
    """Round-11: the fleet form of the maintenance planner —
    discover every log table under a root, plan each from its own
    commit log, execute, and converge to no-op."""
    root = str(tmp_path / "warehouse")
    # t1: fragmented (8 one-row files) -> compact
    df1 = spark.range(8).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v"))
    LH.create_table(spark, f"{root}/ns1/t1", df1.repartition(8), ["k"])
    # t2: long history -> expire
    LH.create_table(spark, f"{root}/t2",
                    spark.range(3).select(F.col("id").alias("k"))
                    .coalesce(1), ["k"])
    for i in range(4):
        LH.append_table(spark, f"{root}/t2",
                        spark.range(10 + i, 11 + i)
                        .select(F.col("id").alias("k")).coalesce(1))
    # t3: healthy
    LH.create_table(spark, f"{root}/t3",
                    spark.range(5).select(F.col("id").alias("k"))
                    .coalesce(1), ["k"])
    # a non-table dir with junk must not be reported
    (tmp_path / "warehouse" / "notes").mkdir(parents=True, exist_ok=True)
    assert LH.discover_tables(spark, root) == sorted(
        [f"{root}/ns1/t1", f"{root}/t2", f"{root}/t3"])
    plans = {p["table"]: p for p in
             LH.catalog_maintenance_plan(spark, root, target_rows=1000,
                                         keep_last=3)}
    assert "compact" in plans[f"{root}/ns1/t1"]["actions"]
    assert "expire" in plans[f"{root}/t2"]["actions"]
    assert plans[f"{root}/t3"]["actions"] == []
    ran = LH.run_catalog_maintenance(spark, root, target_rows=1000,
                                     keep_last=3)
    assert any(r["results"] for r in ran)
    # a compact without a co-planned expire leaves pre-images for the
    # NEXT pass's vacuum — the sweep converges on the second run
    LH.run_catalog_maintenance(spark, root, target_rows=1000,
                               keep_last=3)
    again = LH.catalog_maintenance_plan(spark, root, target_rows=1000,
                                        keep_last=3)
    assert all(p["actions"] == [] for p in again)
    # data intact everywhere
    assert LH.read_table(spark, f"{root}/ns1/t1").count() == 8
    assert LH.read_table(spark, f"{root}/t2").count() == 7
