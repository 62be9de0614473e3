"""Copy-on-write MERGE and the change feed in the default (fast) tier.

- MERGE edge semantics: a key whose only live row a merge-on-read
  delete hid is NOT MATCHED; NULL source keys never match; NaN and
  -0.0 double keys survive stat pruning and match.
- ``read_changes`` over a schema widening and over NULL<->value flips.
- Job-count guards: a MERGE is three passes (source, reconnaissance,
  rewrite) and ``read_changes`` builds its plan without running a job.
- ``inherit_thread_target`` under pinned-thread mode off.
"""

from __future__ import annotations

import math
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from luma_etl_data_platform_spark.core.session import inherit_thread_target
from luma_etl_data_platform_spark.sources import lakehouse as LH


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="luma_merge_cdf_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, path):
    return sorted((tuple(r) for r in LH.read_table(spark, path).collect()),
                  key=repr)


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran) via a job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cow_merge_inserts_key_hidden_by_mor_delete(spark, tmp):
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").alias("v")).coalesce(1), ["k"])
    LH.delete_where(spark, p, "k = 7", mode="mor")
    src = spark.createDataFrame([(7, -7), (8, -8), (100, -100)], "k long, v long")
    LH.merge_into(spark, p, src, ["k"])
    got = dict(_rows(spark, p))
    assert len(got) == 101
    assert (got[7], got[8], got[100], got[9]) == (-7, -8, -100, 9)


def test_null_source_keys_insert_and_never_match(spark, tmp):
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.createDataFrame(
        [(None, "tgt-null"), ("a", "tgt-a")], "k string, v string"), ["k"])
    src = spark.createDataFrame(
        [(None, "src-null"), ("a", "src-a"), ("b", "src-b")],
        "k string, v string")
    LH.merge_into(spark, p, src, ["k"])
    assert _rows(spark, p) == sorted(
        [(None, "tgt-null"), (None, "src-null"), ("a", "src-a"),
         ("b", "src-b")], key=repr)


def test_nan_and_negative_zero_keys_survive_stat_pruning(spark, tmp):
    p = f"{tmp}/t"
    tgt = spark.createDataFrame(
        [(float("nan"), 1), (0.0, 2), (1.5, 3), (2.5, 4)], "k double, v long")
    LH.create_table(spark, p, tgt.coalesce(1), ["k"])
    src = spark.createDataFrame([(float("nan"), 10), (-0.0, 20)],
                                "k double, v long")
    res = LH.merge_into(spark, p, src, ["k"])
    assert res["n_files_stat_pruned"] == 0
    got = _rows(spark, p)
    assert len(got) == 4
    assert [v for k, v in got if math.isnan(k)] == [10]
    assert [v for k, v in got if k == 0.0] == [20]


def test_read_changes_across_schema_widening(spark, tmp):
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.range(0, 6).select(
        F.col("id").alias("k"), F.col("id").alias("v")).coalesce(1), ["k"])
    src = spark.createDataFrame([(1, 10, "one"), (9, 90, "nine")],
                                "k long, v long, w string")
    LH.merge_into(spark, p, src, ["k"], schema_evolution=True)
    feed = LH.read_changes(spark, p, 1, 2)
    assert feed.columns == ["k", "v", "w", "_change_type"]
    assert sorted(tuple(r) for r in feed.collect()) == [
        (1, 1, None, "update_preimage"), (1, 10, "one", "update_postimage"),
        (9, 90, "nine", "insert")]


def test_read_changes_null_value_flips(spark, tmp):
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.createDataFrame(
        [(1, None), (2, 5), (3, 7)], "k long, v long"), ["k"])
    LH.merge_into(spark, p, spark.createDataFrame(
        [(1, 3), (2, None), (3, 7)], "k long, v long"), ["k"])
    got = sorted((tuple(r) for r in LH.read_changes(spark, p, 1, 2).collect()),
                 key=repr)
    assert got == sorted([(1, None, "update_preimage"),
                          (1, 3, "update_postimage"),
                          (2, 5, "update_preimage"),
                          (2, None, "update_postimage")], key=repr)


def test_merge_and_change_feed_job_counts(spark, tmp):
    fact, mirror = f"{tmp}/fact", f"{tmp}/mirror"
    ids = F.format_string("id%06d", "id")
    LH.create_table(spark, fact, spark.range(0, 20000).select(
        ids.alias("id"), (F.col("id") * 1.5).alias("amt"),
        F.lit("I").alias("op")).coalesce(1), ["id"])
    LH.create_table(spark, mirror, LH.read_table(spark, fact)
                    .withColumn("_last_change", F.lit("insert"))
                    .coalesce(1), ["id"])
    src = spark.range(19500, 20500).select(
        ids.alias("id"), (F.col("id") * 2.0).alias("amt"),
        F.when(F.col("id") % 17 == 0, "D").otherwise("U").alias("op"),
    ).localCheckpoint(eager=True)
    res, n_merge = _jobs(spark, lambda: LH.merge_into(
        spark, fact, src, ["id"], delete_condition=F.col("src.op") == "D",
        schema_evolution=True))
    assert res["n_files_rewritten"] == 1
    assert n_merge <= 6, n_merge

    _, n_plan = _jobs(spark, lambda: LH.read_changes(
        spark, fact, res["version"] - 1, res["version"]))
    assert n_plan == 0, n_plan

    def apply():
        changes = LH.read_changes(spark, fact, res["version"] - 1,
                                  res["version"])
        upserts = (changes.filter(F.col("_change_type") != "update_preimage")
                   .withColumnRenamed("_change_type", "_last_change"))
        return LH.merge_into(
            spark, mirror, upserts, ["id"],
            delete_condition=F.col("src._last_change") == "delete",
            schema_evolution=True)
    _, n_apply = _jobs(spark, apply)
    assert n_apply <= 10, n_apply
    fact_rows = {r[0]: (r[1], r[2]) for r in _rows(spark, fact)}
    mirror_rows = {r[0]: (r[1], r[2]) for r in _rows(spark, mirror)}
    assert mirror_rows == fact_rows
    assert len(fact_rows) == 20500 - len(
        [i for i in range(19500, 20000) if i % 17 == 0])


def test_thread_target_with_pinned_threads_off(spark, tmp, monkeypatch):
    import pyspark
    # pyspark's off-mode contract: the argument comes back unchanged
    monkeypatch.setattr(pyspark, "inheritable_thread_target",
                        lambda f=None: f)
    assert inherit_thread_target(spark, lambda x: x + 1)(1) == 2
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")), ["k"])
    # stats + Bloom scans overlap on worker threads
    LH.analyze_table(spark, p, stat_cols=["v"], bloom_cols=["v"])
    adds = LH.snapshot_adds(spark, p)
    assert adds and all("v" in a["stats"] and "v" in a["blooms"]
                        for a in adds)
