"""Batch-twin queries that drive the STREAMING layer through the
DuckDB correctness gate.

The driver's gate is batch-shaped (each query is (spark, sf_dir) →
DataFrame), so streaming operators were previously pytest-verified
only. Each query here stages the events table into a temp directory,
runs the REAL streaming operator over it with
``trigger(availableNow=True)`` and ``maxFilesPerTrigger=1`` (so the
run is split into several genuine micro-batches and cross-batch state
/ merge logic is exercised), then returns the final table — whose
contents a plain batch SQL statement over ``events`` predicts
exactly. This is the same strategy as the reference's own incremental
jobs being validated against full reloads (schedule_jobs.ps1 nightly
full run vs wfm_hourly.ps1 incremental runs).

Determinism: micro-batch boundaries must not affect the result, so
- rollup merges re-aggregate DECIMAL sums (exact, associative);
- stateful running totals carry integer cent values in doubles
  (integer-valued float64 addition is exact below 2^53);
- ledger idempotence is checked by REDELIVERING the whole input and
  asserting nothing duplicates.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..core.localframe import local_frame
from pyspark.sql.window import Window as W

from ..sources.incremental import ProcessedIdLedger
from ..sources.tables import load_table
from ..streaming.microbatch import incremental_ingest
from ..streaming.rollup import continuous_rollup
from ..streaming.stateful import running_user_totals

ORACLE: dict[str, str] = {}

_N_FILES = 4  # staged input files → micro-batches per run


def _stage(df: DataFrame, path: str, n_files: int = _N_FILES) -> None:
    df.repartition(n_files).write.parquet(path)


def _read_stream(spark: SparkSession, path: str) -> DataFrame:
    schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


# ---------------------------------------------------------------------------
# stream_rollup_hourly: continuous aggregate maintenance
# (streaming/rollup.continuous_rollup) drained over 4 micro-batches;
# the final rollup table must equal the one-shot batch aggregation.
# ---------------------------------------------------------------------------
def stream_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="luma_stream_rollup_")
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type",
        # decimal input → every per-batch partial sum and every merge
        # re-aggregation is exact, so the result is micro-batch- and
        # partition-order-invariant.
        F.col("value").cast("decimal(18,2)").alias("value"))
    _stage(ev, f"{tmp}/src")
    q = continuous_rollup(_read_stream(spark, f"{tmp}/src"),
                          f"{tmp}/rollup", f"{tmp}/ck")
    q.awaitTermination(600)
    roll = spark.read.parquet(f"{tmp}/rollup")
    return roll.select(
        "bucket_start", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value").cast("decimal(38,6)"), 2)
         .cast("double").alias("total_value"))


ORACLE["stream_rollup_hourly"] = """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# stream_user_totals: applyInPandasWithState running totals
# (streaming/stateful.running_user_totals) across 4 micro-batches; the
# LAST emission per key is that key's all-time total.
# ---------------------------------------------------------------------------
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="luma_stream_state_")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # integer cents in a double: the state's float64 accumulation
        # is exact (values < 2^53), so cross-batch totals can't drift.
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("double").alias("value"))
    _stage(ev, f"{tmp}/src")
    totals = running_user_totals(_read_stream(spark, f"{tmp}/src"))

    out = f"{tmp}/out"

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        (batch_df.withColumn("_batch_id", F.lit(epoch_id).cast("long"))
         .write.mode("append").parquet(out))

    q = (totals.writeStream.foreachBatch(_sink).outputMode("update")
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    emitted = spark.read.parquet(out)
    last = (emitted
            .withColumn("_rn", F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("_batch_id").desc())))
            .filter(F.col("_rn") == 1))
    return last.select(
        "user_id", "n_events",
        F.round((F.col("total_value") / 100).cast("decimal(38,6)"), 2)
         .cast("double").alias("total_value"))


ORACLE["stream_user_totals"] = """
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stream_ingest_dedup: ledger-idempotent micro-batch ingest
# (streaming/microbatch.incremental_ingest). The whole input is
# REDELIVERED in a second stream run (same ledger, fresh files): the
# anti-join must drop every redelivered row, so the target holds each
# event exactly once — the exactly-once contract under the oracle.
# ---------------------------------------------------------------------------
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="luma_stream_ingest_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"))
    _stage(ev, f"{tmp}/src")
    ledger = ProcessedIdLedger(spark, f"{tmp}/ledger")

    def _run() -> None:
        q = incremental_ingest(
            _read_stream(spark, f"{tmp}/src"),
            ledger=ledger, id_col="event_id",
            target_path=f"{tmp}/target", checkpoint=f"{tmp}/ck")
        q.awaitTermination(600)

    _run()                                   # first delivery: all rows land
    _stage(ev, f"{tmp}/src2")                # redelivery: same rows, new files
    for f in os.listdir(f"{tmp}/src2"):
        if f.endswith(".parquet"):
            shutil.copy(f"{tmp}/src2/{f}", f"{tmp}/src/redeliver_{f}")
    _run()                                   # ledger must drop every row

    tgt = spark.read.parquet(f"{tmp}/target")
    return (tgt.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value").cast("decimal(38,6)"), 2)
                  .cast("double").alias("total_value")))


ORACLE["stream_ingest_dedup"] = """
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stream_interval_join: stream-stream interval join
# (streaming/microbatch.stream_stream_interval_join) — purchases
# joined to the clicks of the preceding hour, drained over genuine
# micro-batches; every match must equal the batch interval join.
#
# Determinism note: the staged files split the event-time range
# arbitrarily, so a tight watermark would drop "late" rows depending
# on which batch they landed in. The twin uses a watermark longer
# than the data's whole time span — nothing is ever late, state
# covers the run, and the result is file-split-invariant. Production
# uses a tight watermark and bounded state; the SEMANTICS under test
# (key + interval condition, cross-batch matching) are identical.
# ---------------------------------------------------------------------------
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.microbatch import stream_stream_interval_join
    tmp = tempfile.mkdtemp(prefix="luma_stream_ssj_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    # 2 files/side = 2 genuine micro-batches per stream (cross-batch
    # matching still exercised) at half the per-batch state overhead
    _stage(ev.filter(F.col("event_type") == "purchase"), f"{tmp}/left", 2)
    _stage(ev.filter(F.col("event_type") == "click"), f"{tmp}/right", 2)
    joined = stream_stream_interval_join(
        _read_stream(spark, f"{tmp}/left"),
        _read_stream(spark, f"{tmp}/right"),
        interval="1 hour", watermark="30 days")
    out = f"{tmp}/out"
    q = (joined.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination(600)
    return spark.read.parquet(out).select(
        "user_id", "l_event_id", "r_event_id", "l_ts", "r_ts")


ORACLE["stream_interval_join"] = """
SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
       l.ts AS l_ts, r.ts AS r_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
WHERE l.event_type = 'purchase' AND r.event_type = 'click'
"""


# ---------------------------------------------------------------------------
# stream_session_windows: native session windows
# (streaming/microbatch.session_window_agg) under the oracle. Append
# mode only emits sessions the watermark has CLOSED, so after the
# data drains, far-future sentinel events are staged and the stream
# re-run on the same checkpoint: the first sentinel pass advances the
# watermark past every real session's end, the second pass's batch
# emits what the advance closed (emission lands on the batch AFTER
# the advance when no-data batches don't fire). The sentinel user is
# filtered from the result; the oracle is the batch gaps-and-islands
# sessionization of the full event set.
#
# Watermark note (same as stream_interval_join): the staged files
# split event time arbitrarily, so a tight watermark would DROP most
# rows of later batches as late — measured: a 2h watermark loses
# ~half the sessions. The twin's watermark exceeds the data span
# (nothing is late, state holds the whole run, sessions close only
# via the sentinels), making the result file-split-invariant. A
# production stream has roughly time-ordered arrival and uses the
# tight watermark; the session-merge semantics under test are the
# same.
# ---------------------------------------------------------------------------
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.microbatch import session_window_agg
    tmp = tempfile.mkdtemp(prefix="luma_stream_sess_")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts",
        # decimal carriage: cross-batch session-state merges re-add
        # partial sums exactly, so results are micro-batch-invariant
        F.col("value").cast("decimal(18,2)").alias("value"))
    _stage(ev, f"{tmp}/src", 2)   # 2 data batches + 2 sentinel passes
    out = f"{tmp}/out"

    def _run() -> None:
        q = (session_window_agg(_read_stream(spark, f"{tmp}/src"),
                                gap="30 minutes", watermark="30 days")
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", f"{tmp}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination(600)

    _run()
    far = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    for bump in (1, 2):      # two flush passes (advance, then emit)
        sentinel = local_frame(
            spark, [(-1, far, None)],
            "user_id long, ts timestamp, value decimal(18,2)"
        ).withColumn("ts", F.col("ts")
                     + F.expr(f"INTERVAL {31 * bump} DAYS"))
        sentinel.write.mode("append").parquet(f"{tmp}/src")
        _run()

    sess = spark.read.parquet(out).filter(F.col("user_id") != -1)
    return sess.select(
        "session_start", "session_end", "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("session_value").cast("double").alias("session_value"))


ORACLE["stream_session_windows"] = """
WITH e AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS value
           FROM events),
x AS (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS nf
      FROM e),
s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x),
g AS (SELECT user_id, sid, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             CAST(round(sum(value), 2) AS DOUBLE) AS session_value
      FROM s GROUP BY 1, 2)
SELECT session_start, session_end, user_id, n_events, session_value FROM g
"""


# ---------------------------------------------------------------------------
# stream_lakehouse_upsert: streaming CDC upsert ingestion — each
# micro-batch MERGEs into the copy-on-write log table
# (sources/lakehouse.py) via foreachBatch, guarded so a row only wins
# if it is NEWER than the current one ((ts, event_id) version order).
# The guard is what makes the result micro-batch-INVARIANT: staged
# files split event time arbitrarily, so batches arrive out of order,
# and unconditional update-all would leave whichever batch ran last.
# Final table state = last-write-wins over the whole feed, which the
# oracle states as one window.
# ---------------------------------------------------------------------------
def stream_lakehouse_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import lakehouse as LH
    tmp = tempfile.mkdtemp(prefix="luma_stream_lh_")
    feed = (load_table(spark, sf_dir, "events")
            .select("user_id", "ts", "event_id", "value"))
    _stage(feed, f"{tmp}/src")
    path = f"{tmp}/state_tbl"

    def _apply(batch: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                             F.col("event_id").desc())
        latest = (batch.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        if LH.current_version(spark, path) == 0:
            LH.create_table(spark, path, latest, ["user_id"])
            return
        newer = (F.col("src.ts") > F.col("tgt.ts")) | (
            (F.col("src.ts") == F.col("tgt.ts"))
            & (F.col("src.event_id") > F.col("tgt.event_id")))
        upd = {c: F.when(newer, F.col(f"src.{c}"))
               .otherwise(F.col(f"tgt.{c}"))
               for c in ("ts", "event_id", "value")}
        LH.merge_into(spark, path, latest, ["user_id"], update_set=upd)

    q = (_read_stream(spark, f"{tmp}/src")
         .writeStream.foreachBatch(_apply)
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(600)
    final = (LH.read_table(spark, path)
             .select("user_id", "ts", F.col("event_id").alias("last_event_id"),
                     F.round("value", 6).alias("last_value"))
             .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return final


def stream_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the persisted IVF index (round-11):
    the index is built from the early half of the corpus (lists =
    labels), then the late half arrives as a 4-micro-batch stream
    and each batch assigns to its nearest STORED centroid (the
    trained structure is FIXED — centroids computed once from the
    base index, so per-row assignment depends only on the row and
    the result is micro-batch-invariant BY CONSTRUCTION) and appends
    into the right partitions via foreachBatch. This is the daily
    100-TB embedding feed joining the serving index at append cost,
    streamed. A query served afterwards probes 2 lists through
    partition-value pruning and sees every vintage. Audited:
    ``n_batches`` (streaming commits on the index log),
    ``n_late_indexed``, ``pruned``/``cand_covers``; the oracle
    replays the identical assignment in SQL (same contract as
    ann_index_incremental_upsert — the batch twin predicts the
    streamed result exactly)."""
    from ..operators.similarity import _as_double, centroids, cosine
    from ..sources import lakehouse as LH
    tmp = tempfile.mkdtemp(prefix="luma_stream_idx_")
    path = f"{tmp}/ivf_index"
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    cut = (int(lo) + int(hi)) // 2
    LH.create_table(spark, path,
                    emb.filter(F.col("vec_id") <= cut)
                    .select("vec_id", "embedding",
                            F.col("label").alias("list_id")),
                    ["vec_id"], partition_by=["list_id"])
    cents = centroids(LH.read_table(spark, path),
                      "list_id", "embedding").localCheckpoint(eager=True)
    _stage(emb.filter(F.col("vec_id") > cut)
           .select("vec_id", "embedding"), f"{tmp}/src", n_files=4)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("vec_id").orderBy(F.col("_cs").desc(),
                                            "list_id")
        assigned = (batch
                    .withColumn("_vd", F.col("embedding")
                                .cast("array<double>"))
                    .crossJoin(F.broadcast(cents))
                    .withColumn("_cs", F.round(
                        cosine(F.col("_vd"), F.col("centroid")), 6))
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select("vec_id", "embedding", "list_id"))
        LH.append_table(spark, path, assigned)

    q = (_read_stream(spark, f"{tmp}/src")
         .writeStream.foreachBatch(_apply)
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(600)
    n_batches = LH.current_version(spark, path) - 1
    n_late = (LH.read_table(spark, path).count()
              - emb.filter(F.col("vec_id") <= cut).count())
    n_live = LH.describe_table(spark, path)["n_files"]
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    qv = _as_double(
        emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"))
        .select(F.col("embedding").alias("_qv")), "_qv")
    probed = [r["list_id"] for r in
              (cents.crossJoin(F.broadcast(qv))
               .select("list_id",
                       F.round(cosine(F.col("centroid"),
                                      F.col("_qv")), 6).alias("cscore"))
               .orderBy(F.col("cscore").desc(), "list_id")
               .limit(2)).collect()]
    cand_files: set[str] = set()
    parts = []
    for lid in probed:
        cand_files.update(LH.pruned_candidate_files(
            spark, path, None, eq={"list_id": lid}))
        parts.append(LH.read_table(spark, path,
                                   where={"list_id": lid}))
    nar = parts[0].unionByName(parts[1])
    hit = {r[0].rsplit("/", 1)[-1] for r in nar
           .select(F.input_file_name()).distinct().collect()}
    pruned = bool(0 < len(cand_files) < n_live)
    cand_covers = bool(
        hit <= {p.rsplit("/", 1)[-1] for p in cand_files})
    out = (_as_double(nar, "embedding").crossJoin(F.broadcast(qv))
           .select("vec_id",
                   F.round(cosine(F.col("embedding"),
                                  F.col("_qv")), 6).alias("score"))
           .orderBy(F.col("score").desc(), "vec_id").limit(10)
           .withColumn("n_batches", F.lit(int(n_batches)))
           .withColumn("n_late_indexed", F.lit(int(n_late)))
           .withColumn("pruned", F.lit(pruned))
           .withColumn("cand_covers", F.lit(cand_covers))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["stream_index_upsert"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
cut AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS c FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
cent AS (SELECT label, list(m ORDER BY i) AS cv
         FROM (SELECT label, i, avg(v[i]) AS m
               FROM e, cut, generate_series(1, 64) t(i)
               WHERE vec_id <= c GROUP BY 1, 2)
         GROUP BY label),
late AS (SELECT vec_id, v FROM e, cut WHERE vec_id > c),
asg AS (SELECT vec_id, label FROM (
          SELECT l.vec_id, cent.label,
                 row_number() OVER (
                   PARTITION BY l.vec_id
                   ORDER BY round(list_dot_product(l.v, cent.cv)
                                  / (sqrt(list_dot_product(l.v, l.v))
                                     * sqrt(list_dot_product(cent.cv,
                                                             cent.cv))),
                            6) DESC, cent.label) AS rn
          FROM late l CROSS JOIN cent) WHERE rn = 1),
probe AS (SELECT label
          FROM cent, q
          ORDER BY round(list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv))), 6)
                   DESC, label
          LIMIT 2),
served AS (SELECT e.vec_id, e.v FROM e, cut
           WHERE e.vec_id <= c
             AND e.label IN (SELECT label FROM probe)
           UNION ALL
           SELECT l.vec_id, l.v FROM late l JOIN asg USING (vec_id)
           WHERE asg.label IN (SELECT label FROM probe)),
nl AS (SELECT count(*) AS n_late FROM late)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(qv, qv))), 6) AS score,
       4 AS n_batches,
       CAST(nl.n_late AS INT) AS n_late_indexed,
       TRUE AS pruned, TRUE AS cand_covers
FROM served, q, nl
ORDER BY score DESC, vec_id
LIMIT 10
"""


ORACLE["stream_lakehouse_upsert"] = """
SELECT user_id, ts, event_id AS last_event_id,
       round(value, 6) AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# ---------------------------------------------------------------------------
# stream_hll_distinct: sketch maintenance as a STREAM — each
# micro-batch appends its own per-type HLL register file (bounded:
# ≤ types×256 rows per batch), and the standing estimate is the
# register-wise max over everything appended so far. Register merge
# is idempotent, associative and commutative, so the result is
# micro-batch-invariant BY CONSTRUCTION — the batch twin predicts it
# exactly. This is the 100-TB distinct-count monitor: per-batch
# sketch state in KBs, no raw re-scan, estimates on demand.
# ---------------------------------------------------------------------------
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_merge, hll_sketch
    tmp = tempfile.mkdtemp(prefix="luma_stream_hll_")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    _stage(ev, f"{tmp}/src")
    out = f"{tmp}/regs"

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        hll_sketch(batch_df, "event_type", "user_id") \
            .write.mode("append").parquet(out)

    q = (_read_stream(spark, f"{tmp}/src").writeStream
         .foreachBatch(_sink)
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    regs = spark.read.parquet(out)
    merged = hll_merge(regs, group_col="event_type")
    res = (hll_estimate(merged, "event_type")
           .orderBy("event_type")
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return res


from ..operators.sketches import hll_estimate_sql, hll_regs_sql

ORACLE["stream_hll_distinct"] = (
    "WITH " + hll_regs_sql() + ",\n" + hll_estimate_sql()
    + "\nSELECT event_type, n_zero_regs, est_distinct FROM est "
      "ORDER BY event_type")


# ---------------------------------------------------------------------------
# stream_wap_ingest: streaming write-audit-publish — every
# micro-batch stages into the lakehouse invisibly, is audited
# in-place, and either publishes (atomic metadata commit) or aborts
# (file delete, zero table history). Batch-level all-or-nothing QA:
# the input is partitioned into 8 group files (grp = event_id % 8)
# and rows with event_id % 2500 == 0 carry a corrupted negative
# value, so exactly the groups containing such ids abort — a
# deterministic, scale-stable rule the batch-twin oracle replays
# relationally.
# ---------------------------------------------------------------------------
def stream_wap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import lakehouse as LH
    tmp = tempfile.mkdtemp(prefix="luma_stream_wap_")
    path = f"{tmp}/tbl"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 8).alias("grp"),
        F.when(F.col("event_id") % 2500 == 0, F.lit(-1.0))
        .otherwise(F.col("value")).cast("decimal(18,2)").alias("value"))
    (ev.repartition(1).write.partitionBy("grp")
     .parquet(f"{tmp}/src"))
    LH.create_table(spark, path, ev.filter(F.lit(False)).drop("grp")
                    .repartition(1), ["event_id"])

    schema = spark.read.parquet(f"{tmp}/src").schema

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        pending = LH.stage_append(spark, path, batch_df.drop("grp"),
                                  ["event_id"])
        n_bad = (LH.read_staged(spark, path, pending)
                 .filter(F.col("value") < 0).count())
        if n_bad:
            LH.abort_staged(spark, path, pending)
        else:
            LH.publish_staged(spark, path, pending)

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/src")
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    out = (LH.read_table(spark, path).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("event_id") % 8).alias("n_groups_published"),
        F.round(F.sum("value").cast("decimal(38,6)"), 2).cast("double")
        .alias("total_value"))
        .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["stream_wap_ingest"] = """
WITH dirty AS (SELECT DISTINCT event_id % 8 AS grp FROM events
               WHERE event_id % 2500 = 0),
clean AS (SELECT event_id, value FROM events
          WHERE event_id % 8 NOT IN (SELECT grp FROM dirty))
SELECT count(*) AS n_events,
       count(DISTINCT event_id % 8) AS n_groups_published,
       CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value
FROM clean
"""


def stream_txn_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ninth streaming twin: every micro-batch fans out to TWO log
    tables — detail rows (events) and the batch's per-type summary —
    landed as ONE multi-table transaction
    (sources/lakehouse_txn.py). A poisoned batch (containing any
    ``event_id % 2000 == 0`` row) is ABORTED atomically: neither its
    detail rows nor its summary rows may surface.

    The output reads BOTH tables independently; the oracle computes
    the same figures once from the clean batches — equality proves
    the cross-table invariant (Σ summary counts == detail count,
    Σ summary sums == detail sum) held through genuine multi-batch
    streaming execution. This is the fact+dimension consistency
    contract the reference's per-table stored-proc loads cannot give.
    """
    from ..sources import lakehouse as LH
    from ..sources import lakehouse_txn as TX
    tmp = tempfile.mkdtemp(prefix="luma_stream_txn_")
    pa, pb = f"{tmp}/detail", f"{tmp}/summary"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("value").cast("decimal(18,2)").alias("value"),
        (F.col("event_id") % 6).alias("grp"))
    (ev.repartition(1).write.partitionBy("grp")
     .parquet(f"{tmp}/src"))
    LH.create_table(spark, pa,
                    ev.filter(F.lit(False)).drop("grp").repartition(1),
                    ["event_id"])
    empty_sum = (ev.filter(F.lit(False))
                 .groupBy("grp", "event_type")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.sum("value").cast("decimal(38,2)")
                      .alias("sum_value")))
    LH.create_table(spark, pb, empty_sum.repartition(1),
                    ["grp", "event_type"])

    schema = spark.read.parquet(f"{tmp}/src").schema

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # two consumers
        t = TX.begin_transaction(spark, f"{tmp}/_txns")
        t.stage_append(pa, batch_df.drop("grp"), ["event_id"])
        summary = (batch_df.groupBy("grp", "event_type")
                   .agg(F.count(F.lit(1)).alias("n_events"),
                        F.sum("value").cast("decimal(38,2)")
                        .alias("sum_value")))
        t.stage_append(pb, summary, ["grp", "event_type"])
        if batch_df.filter(F.col("event_id") % 2000 == 0).count():
            t.abort()
        else:
            t.commit()

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/src")
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation", f"{tmp}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    detail = LH.read_table(spark, pa).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value").cast("decimal(38,6)"), 2).cast("double")
        .alias("total_value"))
    summ = LH.read_table(spark, pb).agg(
        F.count(F.lit(1)).alias("n_summary_rows"),
        F.sum("n_events").alias("summary_events"),
        F.round(F.sum("sum_value").cast("decimal(38,6)"), 2)
        .cast("double").alias("summary_value"))
    out = detail.crossJoin(F.broadcast(summ)).localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["stream_txn_fanout"] = """
WITH dirty AS (SELECT DISTINCT event_id % 6 AS grp FROM events
               WHERE event_id % 2000 = 0),
clean AS (SELECT event_id % 6 AS grp, event_type,
                 CAST(value AS DECIMAL(18,2)) AS value
          FROM events
          WHERE event_id % 6 NOT IN (SELECT grp FROM dirty))
SELECT count(*) AS n_events,
       CAST(round(CAST(sum(value) AS DECIMAL(38,6)), 2) AS DOUBLE)
         AS total_value,
       (SELECT count(*) FROM (SELECT DISTINCT grp, event_type
                              FROM clean) d) AS n_summary_rows,
       count(*) AS summary_events,
       CAST(round(CAST(sum(value) AS DECIMAL(38,6)), 2) AS DOUBLE)
         AS summary_value
FROM clean
"""


# ---------------------------------------------------------------------------
# stream_cdf_apply: the lakehouse's streaming half — follow a source
# table's CHANGE FEED (streaming/cdf.stream_changes: per-commit
# read_changes diffs, exactly-once via the processed-version ledger)
# and maintain a downstream MIRROR table from the feed alone. The
# source is built as four genuine commits (create + two newer-wins
# merges + a delete), the mirror sees only _change_type rows, and a
# full REDELIVERY of the history must apply nothing (replay_clean).
# The batch twin: the mirror equals latest-event-per-user over all
# events minus the deleted keys — predicted by one SQL statement.
# ---------------------------------------------------------------------------
def stream_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import lakehouse as LH
    from ..streaming.cdf import stream_changes
    tmp = tempfile.mkdtemp(prefix="luma_stream_cdf_")
    src_path, mirror_path = f"{tmp}/src", f"{tmp}/mirror"
    ledger = f"{tmp}/ledger"
    feed = (load_table(spark, sf_dir, "events")
            .select("user_id", "ts", "event_id", "value"))
    newer = (F.col("src.ts") > F.col("tgt.ts")) | (
        (F.col("src.ts") == F.col("tgt.ts"))
        & (F.col("src.event_id") > F.col("tgt.event_id")))
    upd = {c: F.when(newer, F.col(f"src.{c}"))
           .otherwise(F.col(f"tgt.{c}"))
           for c in ("ts", "event_id", "value")}
    # three source commits: create (even event_ids), a newer-wins
    # merge (odd ones), a delete — one CDF batch of each change
    # shape. The user-keyed frames are repartitioned to 8 files: the
    # scenario's cost is per-FILE (each version's CDF diff and each
    # mirror merge walk the touched files), and a 32-way layout of a
    # user-level table is pure task overhead at gate scale. Both
    # halves come from ONE window pass over events — partition by
    # (user_id, parity) and checkpoint, so the corpus is shuffled
    # once, not once per commit.
    wp = W.partitionBy("user_id", (F.col("event_id") % 2))\
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest_by_parity = (feed.withColumn("_rn", F.row_number().over(wp))
                        .filter(F.col("_rn") == 1).drop("_rn")
                        .repartition(8)
                        .localCheckpoint(eager=True))
    LH.create_table(spark, src_path,
                    latest_by_parity.filter(F.col("event_id") % 2 == 0),
                    ["user_id"])
    LH.merge_into(spark, src_path,
                  latest_by_parity.filter(F.col("event_id") % 2 == 1),
                  ["user_id"], update_set=upd)
    LH.delete_where(spark, src_path, "user_id % 7 = 0")

    def _apply(changes: DataFrame, version: int) -> None:
        # one pass over the batch's file diff: read_changes is a lazy
        # plan, so checkpoint the batch here (the kind probe and both
        # merge consumers reuse it instead of re-running the diff)
        # and probe the change kinds in ONE job — the former
        # ups.limit(1).count() / dels.limit(1).count() pair re-ran the
        # diff once per probe (guide §1.2: don't compute things
        # twice). The mirror is a keyed latest-state sink, so
        # the feed drains with coalesce_versions=True (round-12,
        # guide §1.2/§3): one net-diff batch and ONE set of mirror
        # DMLs per run of consecutive versions instead of a full
        # MERGE (recon + rewrite + commit) per version.
        changes = changes.localCheckpoint(eager=True)
        kinds = {r[0] for r in
                 changes.select("_change_type").distinct().collect()}
        ups = (changes.filter(F.col("_change_type")
                              .isin("insert", "update_postimage"))
               .drop("_change_type"))
        dels = (changes.filter(F.col("_change_type") == "delete")
                .drop("_change_type"))
        if LH.current_version(spark, mirror_path) == 0:
            LH.create_table(spark, mirror_path, ups.repartition(8),
                            ["user_id"])
            return
        if kinds & {"insert", "update_postimage"}:
            LH.merge_into(spark, mirror_path, ups, ["user_id"])
        if "delete" in kinds:
            LH.merge_into(spark, mirror_path, dels, ["user_id"],
                          update_set=None,
                          delete_condition=F.lit(True),
                          insert_when_not_matched=False)

    first = stream_changes(spark, src_path, _apply, ledger,
                           coalesce_versions=True)
    n_rows = LH.read_table(spark, mirror_path).count()
    # full redelivery: every version skips, the mirror is untouched
    second = stream_changes(spark, src_path, _apply, ledger,
                            coalesce_versions=True)
    replay_clean = (not second["versions_applied"]
                    and second["versions_skipped"]
                    == len(first["versions_applied"])
                    and LH.read_table(spark, mirror_path).count()
                    == n_rows)
    final = (LH.read_table(spark, mirror_path)
             .select("user_id", "ts",
                     F.col("event_id").alias("last_event_id"),
                     F.round("value", 6).alias("last_value"))
             .withColumn("replay_clean", F.lit(bool(replay_clean)))
             .orderBy("user_id")
             .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return final


ORACLE["stream_cdf_apply"] = """
WITH latest AS (
  SELECT user_id, ts, event_id, value FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1)
SELECT user_id, ts, event_id AS last_event_id,
       round(value, 6) AS last_value, TRUE AS replay_clean
FROM latest
WHERE user_id % 7 <> 0
ORDER BY user_id
"""


QUERIES = {
    "stream_cdf_apply": stream_cdf_apply,
    "stream_wap_ingest": stream_wap_ingest,
    "stream_txn_fanout": stream_txn_fanout,
    "stream_hll_distinct": stream_hll_distinct,
    "stream_lakehouse_upsert": stream_lakehouse_upsert,
    "stream_index_upsert": stream_index_upsert,
    "stream_rollup_hourly": stream_rollup_hourly,
    "stream_user_totals": stream_user_totals,
    "stream_ingest_dedup": stream_ingest_dedup,
    "stream_interval_join": stream_interval_join,
    "stream_session_windows": stream_session_windows,
}
