"""Copy-on-write MERGE and the change feed in the default (fast) tier.

- MERGE edge semantics: a key whose only live row a merge-on-read
  delete hid is NOT MATCHED; NULL source keys never match; NaN and
  -0.0 double keys survive stat pruning and match.
- ``read_changes`` over a schema widening and over NULL<->value flips.
- Job-count guards: a MERGE is three passes (source, reconnaissance,
  rewrite), ``read_changes`` builds its plan without running a job,
  and every other row-level DML body and OPTIMIZE keeps its count.
- ``inherit_thread_target`` under pinned-thread mode off.
- The coalesced change-feed drain (``stream_changes(...,
  coalesce_versions=True)``) and its ledger — the benchmark's ELT path.
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


# Spark jobs per call of each row-level DML body and of OPTIMIZE on a
# 3-file table (copy-on-write: reconnaissance + rewrite; merge-on-read:
# one checkpointed matched-row scan + post-images + sidecar). A body
# that starts re-reading its input shows up here.
_DML_JOB_BOUNDS = {"delete": 7, "update": 5, "replace": 10,
                   "delete_mor": 4, "update_mor": 6, "merge_mor": 10,
                   "compact": 9}


def test_dml_family_job_counts(spark, tmp):
    p = f"{tmp}/t"
    LH.create_table(spark, p, spark.range(0, 3000, numPartitions=3).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")), ["k"])
    src = spark.createDataFrame([(20, -1), (5000, 1)], "k long, v long")
    ops = {
        "delete": lambda: LH.delete_where(spark, p, "k = 5"),
        "update": lambda: LH.update_where(spark, p, "k = 6", {"v": "v + 1"}),
        "replace": lambda: LH.replace_where(spark, p, spark.createDataFrame(
            [(7, 70)], "k long, v long"), "k = 7"),
        "delete_mor": lambda: LH.delete_where(spark, p, "k = 8", mode="mor"),
        "update_mor": lambda: LH.update_where(spark, p, "k = 9",
                                              {"v": "0"}, mode="mor"),
        "merge_mor": lambda: LH.merge_into(spark, p, src, ["k"],
                                           mode="mor"),
        "compact": lambda: LH.compact(spark, p, target_rows=100_000),
    }
    counts = {op: _jobs(spark, fn)[1] for op, fn in ops.items()}
    assert all(counts[op] <= n for op, n in _DML_JOB_BOUNDS.items()), counts
    got = {r["k"]: r["v"] for r in LH.read_table(spark, p).collect()}
    assert (5 not in got and got[6] == 7 and got[7] == 70 and 8 not in got
            and got[9] == 0 and got[20] == -1 and got[5000] == 1)
    assert len(got) == 3000 - 2 + 1


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


def test_stream_changes_coalesced_drain(spark, tmp_path):
    """Round-12 optimization: coalesce_versions=True drains each
    maximal run of consecutive unprocessed versions as ONE net-diff
    batch. Pins: (a) a keyed latest-state mirror built from the
    coalesced feed is row-identical to the per-version feed's; (b)
    the ledger records every coalesced version (full redelivery skips
    all); (c) max_versions_per_trigger closes the run exactly where
    the per-version loop would; (d) a crash between apply and record
    redelivers the unrecorded versions as a new run."""
    from luma_etl_data_platform_spark.sources import lakehouse as LH
    from luma_etl_data_platform_spark.streaming.cdf import stream_changes
    src = str(tmp_path / "src")
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"])
    LH.create_table(spark, src, mk([(1, 10), (2, 20)]).coalesce(1), ["k"])
    LH.merge_into(spark, src, mk([(2, 25), (3, 30)]), ["k"])
    LH.delete_where(spark, src, "k = 1")
    LH.append_table(spark, src, mk([(4, 40)]).coalesce(1))

    def mirror_apply(path):
        def _apply(changes, version):
            ups = (changes.filter(F.col("_change_type")
                                  .isin("insert", "update_postimage"))
                   .drop("_change_type"))
            dels = (changes.filter(F.col("_change_type") == "delete")
                    .drop("_change_type"))
            if LH.current_version(spark, path) == 0:
                LH.create_table(spark, path, ups.coalesce(1), ["k"])
            else:
                LH.merge_into(spark, path, ups, ["k"])
            if dels.limit(1).count():
                LH.merge_into(spark, path, dels, ["k"], update_set=None,
                              delete_condition=F.lit(True),
                              insert_when_not_matched=False)
        return _apply

    # (a)+(b): coalesced result == per-version result, ledger complete
    m1, m2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    batches: list[int] = []
    per = stream_changes(spark, src, mirror_apply(m1),
                         str(tmp_path / "led1"))
    coal = stream_changes(
        spark, src,
        lambda c, v: (batches.append(v), mirror_apply(m2)(c, v)),
        str(tmp_path / "led2"), coalesce_versions=True)
    assert per["versions_applied"] == [1, 2, 3, 4]
    assert coal["versions_applied"] == [1, 2, 3, 4]
    assert batches == [4]  # one net-diff batch for the whole run
    rows1 = sorted(tuple(r) for r in LH.read_table(spark, m1).collect())
    rows2 = sorted(tuple(r) for r in LH.read_table(spark, m2).collect())
    assert rows1 == rows2 == [(2, 25), (3, 30), (4, 40)]
    again = stream_changes(spark, src, mirror_apply(m2),
                           str(tmp_path / "led2"), coalesce_versions=True)
    assert again["versions_applied"] == [] and again["versions_skipped"] == 4

    # (c): the cap closes the run at 2 versions per trigger
    seen: list[int] = []
    led3 = str(tmp_path / "led3")
    t1 = stream_changes(spark, src, lambda c, v: seen.append(v), led3,
                        max_versions_per_trigger=2,
                        coalesce_versions=True)
    t2 = stream_changes(spark, src, lambda c, v: seen.append(v), led3,
                        max_versions_per_trigger=2,
                        coalesce_versions=True)
    assert t1["versions_applied"] == [1, 2]
    assert t2["versions_applied"] == [3, 4]
    assert seen == [2, 4]  # one apply per capped run, batch id = max

    # (d): crash between apply and record — whole run redelivers
    led4 = str(tmp_path / "led4")
    calls: list[int] = []
    boom = [True]

    def crashing(changes, version):
        calls.append(version)
        if boom[0]:
            boom[0] = False
            raise RuntimeError("crash before record")

    with pytest.raises(RuntimeError):
        stream_changes(spark, src, crashing, led4,
                       coalesce_versions=True)
    out = stream_changes(spark, src, crashing, led4,
                         coalesce_versions=True)
    assert out["versions_applied"] == [1, 2, 3, 4]
    assert calls == [4, 4]  # nothing recorded -> same run redelivered
