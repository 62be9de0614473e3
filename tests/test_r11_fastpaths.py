"""Round-11 optimization fast paths: driver-side lanes must be
bit-identical to the Spark lanes they shortcut.

- footer-based per-file stats (`lakehouse._footer_stats` inside
  `_annotate_adds`): parquet footers already hold exact row counts
  and exact min/max for fixed-width columns; the lane must produce
  the same add-action annotations as the Spark scan (integer, float
  and plain string columns), and must FALL BACK (not guess) for
  NaN-suppressed, omitted (over 4 KB) or truncated footer stats,
  collated strings and the string columns of files another writer
  produced (`convert_to_table`).
- ledger driver-side reads (`ChangeFeedLedger.processed` under
  `_summary_full`): the (min, watermark, exceptions) triple the former
  Spark gap-finding join computed, including the non-contiguous
  case.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from luma_etl_data_platform_spark.sources import lakehouse as LH
from luma_etl_data_platform_spark.streaming.cdf import ChangeFeedLedger


def _adds_norm(spark, path):
    docs = LH._commits(spark, path)
    return sorted(
        json.dumps({k: a.get(k)
                    for k in ("rows", "stats", "min_key", "max_key")},
                   sort_keys=True)
        for d in docs for a in d.get("add", []))


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="luma_r11fp_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _spark_lane_create(spark, path, df, keys):
    """create_table with the footer lane forced off (as on a remote
    root), so `_annotate_adds` runs its Spark stats job."""
    orig = LH._footer_stats
    LH._footer_stats = lambda *a, **k: None
    try:
        LH.create_table(spark, path, df, keys)
    finally:
        LH._footer_stats = orig


def _footer_lane(spark, path, cols):
    """The footer lane's verdict on a table's committed files."""
    adds = [a for d in LH._commits(spark, path) for a in d.get("add", [])]
    return LH._footer_stats(path, adds, cols, spark)


def test_footer_stats_match_spark_lane(spark, tmpdir_):
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("d"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("ni"),
        F.lit(None).cast("double").alias("all_null"))
    p1, p2 = f"{tmpdir_}/a", f"{tmpdir_}/b"
    LH.create_table(spark, p1, df.repartition(4),
                    ["k", "d", "ni", "all_null"])
    _spark_lane_create(spark, p2, df.repartition(4),
                       ["k", "d", "ni", "all_null"])
    assert _adds_norm(spark, p1) == _adds_norm(spark, p2)

    # string keys: ASCII, non-ASCII (multi-byte UTF-8 where byte order
    # and code-point order must agree), values over 64 characters
    # (the page-index truncation length, not the footer's) and NULLs
    vals = ["apple", "Zebra", "ärger", "日本語", "😀 emoji", "a" * 65,
            "b" * 200 + "ü", None, "", "~tilde"]
    sdf = spark.createDataFrame(
        [(vals[i % len(vals)] and f"{vals[i % len(vals)]}{i // 10}", i)
         for i in range(300)], "s string, n long")
    p3, p4 = f"{tmpdir_}/s_footer", f"{tmpdir_}/s_spark"
    LH.create_table(spark, p3, sdf.repartition(3), ["s", "n"])
    _spark_lane_create(spark, p4, sdf.repartition(3), ["s", "n"])
    assert _footer_lane(spark, p3, ["s", "n"]) is not None
    assert _adds_norm(spark, p3) == _adds_norm(spark, p4)

    # a column maximum over 4 KB: parquet omits the chunk's min/max,
    # so the lane falls back to the Spark job — and still matches it
    big = sdf.union(spark.createDataFrame([("😀" * 1500, 999)], sdf.schema))
    p5, p6 = f"{tmpdir_}/big_footer", f"{tmpdir_}/big_spark"
    LH.create_table(spark, p5, big.coalesce(1), ["s", "n"])
    _spark_lane_create(spark, p6, big.coalesce(1), ["s", "n"])
    assert _footer_lane(spark, p5, ["s", "n"]) is None
    assert _adds_norm(spark, p5) == _adds_norm(spark, p6)


def test_footer_stats_string_column_falls_back(spark, tmpdir_):
    """A plain string column takes the footer lane; a truncating
    writer or a collated column must fall back to the exact Spark
    lane (truncated bounds, collation order != byte order)."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))
    p = f"{tmpdir_}/t"
    LH.create_table(spark, p, df.coalesce(1), ["k", "s"])
    assert _footer_lane(spark, p, ["k", "s"]) is not None
    adds = [a for d in LH._commits(spark, p) for a in d.get("add", [])]
    assert adds[0]["stats"]["s"] == {"min": "s0", "max": "s99"}

    long_df = df.select("k", F.concat(F.lit("prefix-" * 4), "s").alias("s"))
    spark.conf.set("parquet.statistics.truncate.length", "8")
    try:
        pt = f"{tmpdir_}/trunc"
        LH.create_table(spark, pt, long_df.coalesce(1), ["k", "s"])
        assert _footer_lane(spark, pt, ["k", "s"]) is None
    finally:
        spark.conf.unset("parquet.statistics.truncate.length")
    adds = [a for d in LH._commits(spark, pt) for a in d.get("add", [])]
    assert adds[0]["stats"]["s"] == {"min": "prefix-" * 4 + "s0",
                                     "max": "prefix-" * 4 + "s99"}

    # UTF8_LCASE orders 'a' < 'B'; the bytes order 'B' < 'a'
    cdf = spark.createDataFrame([(1, "a"), (2, "B")], "k long, s string") \
        .select("k", F.collate("s", "UTF8_LCASE").alias("s"))
    pc = f"{tmpdir_}/coll"
    LH.create_table(spark, pc, cdf.coalesce(1), ["k", "s"])
    assert _footer_lane(spark, pc, ["k", "s"]) is None
    adds = [a for d in LH._commits(spark, pc) for a in d.get("add", [])]
    assert adds[0]["stats"]["s"] == {"min": "a", "max": "B"}


def test_convert_string_key_ignores_foreign_footer_stats(spark, tmpdir_):
    """convert_to_table onboards files another writer produced, whose
    string statistics may be truncated without this session's conf
    saying so: string keys take the exact Spark lane there."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("prefix-" * 4), F.col("id")).alias("s"))
    p = f"{tmpdir_}/foreign"
    spark.conf.set("parquet.statistics.truncate.length", "8")
    try:
        df.coalesce(1).write.parquet(p)
    finally:
        spark.conf.unset("parquet.statistics.truncate.length")
    LH.convert_to_table(spark, p, ["s"])
    adds = [a for d in LH._commits(spark, p) for a in d.get("add", [])]
    assert adds[0]["stats"]["s"] == {"min": "prefix-" * 4 + "0",
                                     "max": "prefix-" * 4 + "99"}


def test_footer_stats_nan_bails_to_spark_lane(tmpdir_, spark):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 25, float("nan"))
        .otherwise(F.col("id") * 1.0).alias("d"))
    p = f"{tmpdir_}/t"
    LH.create_table(spark, p, df.coalesce(1), ["k", "d"])
    adds = [a for d in LH._commits(spark, p) for a in d.get("add", [])]
    # the Spark lane's max of a NaN-bearing double is NaN — the footer
    # lane has no min/max for that chunk and must not have guessed
    assert adds[0]["stats"]["d"]["max"] != adds[0]["stats"]["d"]["max"]  # NaN
    assert adds[0]["stats"]["k"] == {"min": 0, "max": 49}


# (min, watermark, exceptions) per recorded version list: the triples
# the former Spark gap-finding join returned for the same ledgers
_LEDGER_TRIPLES = {
    (): (None, None, set()),
    (1,): (1, 1, set()),
    (1, 2, 3, 4): (1, 4, set()),
    (2, 3, 4): (2, 4, set()),             # starts above 1, contiguous
    (1, 2, 5, 6, 9): (1, 2, {5, 6, 9}),   # holes above the watermark
    (7, 9): (7, 7, {9}),                  # immediate hole above mn
}


@pytest.mark.parametrize("versions", [list(k) for k in _LEDGER_TRIPLES])
def test_ledger_local_summary_matches_spark(spark, tmpdir_, versions):
    path = f"{tmpdir_}/ledger"
    ledger = ChangeFeedLedger(spark, path, compact_every=1000)
    for v in versions:
        ledger.record(v)
    assert ledger._summary_full() == _LEDGER_TRIPLES[tuple(versions)]
    assert ledger.processed() == set(versions)
    # the files stay readable by Spark's parquet reader
    if versions:
        got = {r["version"] for r in spark.read.parquet(path).collect()}
        assert got == set(versions)


def test_ledger_local_skips_hidden_and_tmp_files(spark, tmpdir_):
    path = f"{tmpdir_}/ledger"
    ledger = ChangeFeedLedger(spark, path, compact_every=1000)
    ledger.record(3)
    ledger.record(4)
    # in-flight temp and marker files must be invisible to the lane
    open(f"{path}/.part-xyz.parquet.tmp", "wb").write(b"garbage")
    open(f"{path}/_feed_marker", "w").write("{}")
    assert ledger.processed() == {3, 4}
    assert ledger.summary() == (4, set())


# -- round-11 optimization, second pass ------------------------------

def test_spread_memo_same_decision_and_reuse(spark):
    """spread()'s partition-count probe is memoized per analyzed-plan
    semanticHash: the memoized decision must equal the probe's, and a
    semantically-equal fresh frame must be decided FROM the memo
    (proving the 40-95 ms planning probe is skipped)."""
    from luma_etl_data_platform_spark.core import partitioning as P
    P._NPART_MEMO.clear()
    target = spark.sparkContext.defaultParallelism
    out = P.spread(spark.range(100).coalesce(1))
    assert out.rdd.getNumPartitions() == target
    # memo is per-SESSION (WeakKeyDictionary — ADVICE r11: entries die
    # with the session, so id() reuse can never alias sessions)
    memo = P._NPART_MEMO[spark]
    assert len(memo) == 1                   # probe result memoized
    key = next(iter(memo))
    # poison the entry: an equal fresh frame must follow the MEMO's
    # decision (no repartition), i.e. the probe did not run again
    memo[key] = target
    again = P.spread(spark.range(100).coalesce(1))
    assert again.rdd.getNumPartitions() == 1
    P._NPART_MEMO.clear()
    wide = spark.range(1000).repartition(target)
    assert P.spread(wide) is wide           # already spread: untouched
    P._NPART_MEMO.clear()


def test_analyze_sizing_when_rows_unknown_with_stats(spark, tmpdir_):
    """analyze_table's bloom sizing needs per-file row counts; when
    the adds predate row recording AND stat_cols are requested, the
    stats job must run FIRST and feed the sizing (the one
    ordering-dependent case the concurrent-scan restructure keeps
    sequential) — no extra counting job, correct m, working bloom."""
    path = f"{tmpdir_}/t"
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("u-"), F.col("id")).alias("u"))
    LH.create_table(spark, path, df.repartition(4), ["k"])
    import glob
    for p in glob.glob(f"{path}/_log/*.json"):
        with open(p) as fh:
            doc = json.load(fh)
        for a in doc.get("add", []):
            a.pop("rows", None)
            a.pop("stats", None)
        with open(p, "w") as fh:
            json.dump(doc, fh)
        crc = os.path.join(os.path.dirname(p),
                           f".{os.path.basename(p)}.crc")
        if os.path.exists(crc):  # hadoop checksum sidecar is now stale
            os.remove(crc)
    LH._invalidate_doc_cache(path)
    res = LH.analyze_table(spark, path, stat_cols=["v"],
                           bloom_cols=["u"])
    assert res["n_files"] == 4
    adds = [a for d in LH._commits(spark, path)
            if d.get("op") == "analyze" for a in d["add"]]
    assert len(adds) == 4
    assert all(a.get("rows") is not None for a in adds)
    assert sum(a["rows"] for a in adds) == 400
    assert {a["blooms"]["u"]["m"] for a in adds} == {8192}
    assert all("v" in (a.get("stats") or {}) for a in adds)
    cand = LH.pruned_candidate_files(spark, path, None, eq={"u": "u-0"})
    assert 0 < len(cand) < 4
