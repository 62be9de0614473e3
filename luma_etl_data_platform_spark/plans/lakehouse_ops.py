"""Lakehouse MERGE under the correctness gate: drive the log-table
format (sources/lakehouse.py) through a REAL multi-commit upsert
history — create, update+insert merge, mixed update/delete merge —
and hand the final table state to the DuckDB oracle, which replays
the identical op-log as plain relational algebra.

This is the row-level MERGE INTO the reference platform scaffolds as
T-SQL column lists (db/columns/dbcolumngen.py:3-32) but never
executes in-repo; here the whole path runs: commit log, file-level
copy-on-write pruning, clause semantics (WHEN MATCHED [AND cond]
DELETE / UPDATE, WHEN NOT MATCHED INSERT), snapshot read.

Determinism notes: batches are keyed on ``o_orderkey % k`` so the
op-log derives from the data, not RNG; price updates add 100.0
(exact in IEEE double on 2-dp inputs — both engines compute the
identical sum); output rounds to 2dp regardless.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..core.localframe import local_frame

from ..sources import lakehouse as LH
from ..sources.tables import load_table

ORACLE: dict[str, str] = {}

_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-commit upsert history on a log table seeded from orders:

    1. CREATE  — orders with ``o_orderkey % 4 != 0`` (6 data files).
    2. MERGE   — source = orders with ``o_orderkey % 10 == 6`` at
       price+100: matched rows update (all columns), unmatched insert.
    3. MERGE   — source = orders with ``o_orderkey % 10 == 3`` at
       price+100: matched URGENT rows DELETE, other matched rows
       update, unmatched insert.

    Returns the final table state (the oracle replays the same three
    steps relationally). File-level pruning is asserted structurally
    in tests/test_lakehouse.py; here the gate checks END STATE."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_merge_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    LH.create_table(spark, path, initial.repartition(6), ["o_orderkey"])

    batch1 = (orders.filter(F.col("o_orderkey") % 10 == 6)
              .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    LH.merge_into(spark, path, batch1, ["o_orderkey"], update_set="all")

    batch2 = (orders.filter(F.col("o_orderkey") % 10 == 3)
              .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    LH.merge_into(spark, path, batch2, ["o_orderkey"], update_set="all",
                  delete_condition=F.col("src.o_orderpriority")
                  == "1-URGENT")

    final = (LH.read_table(spark, path)
             .select("o_orderkey", "o_orderstatus",
                     F.round("o_totalprice", 2).alias("o_totalprice"),
                     "o_orderpriority"))
    # materialize before the temp table dir can be cleaned up
    final = final.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return final


ORACLE["merge_upsert_orders"] = """
WITH i AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 4 <> 0),
b1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
              o_orderpriority
       FROM orders WHERE o_orderkey % 10 = 6),
s1 AS (SELECT * FROM i
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b1)
       UNION ALL
       SELECT * FROM b1),
b2 AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
              o_orderpriority
       FROM orders WHERE o_orderkey % 10 = 3),
s2 AS (SELECT * FROM s1
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
       UNION ALL
       -- matched, not urgent: source version (update-all)
       SELECT b2.* FROM b2
       WHERE o_orderkey IN (SELECT o_orderkey FROM s1)
         AND o_orderpriority <> '1-URGENT'
       UNION ALL
       -- not matched: insert (urgent or not — delete is a MATCHED clause)
       SELECT b2.* FROM b2
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1))
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
       o_orderpriority
FROM s2
"""


def lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation under the gate: create (v1), merge (v2),
    then read BOTH versions from the same table — the v1 read must
    still see the pre-merge state byte-for-byte (immutable data
    files; commits only add/remove references). Returns per-status
    rollups of each snapshot tagged ``v1``/``v2``; the oracle derives
    both states relationally."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_tt_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    initial = orders.filter(F.col("o_orderkey") % 3 == 0)
    LH.create_table(spark, path, initial.repartition(4), ["o_orderkey"])
    batch = (orders.filter(F.col("o_orderkey") % 6 == 0)
             .withColumn("o_totalprice", F.col("o_totalprice") + 50.0))
    LH.merge_into(spark, path, batch, ["o_orderkey"], update_set="all")

    def _roll(df: DataFrame, tag: str) -> DataFrame:
        return (df.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("snapshot", F.lit(tag)))

    out = (_roll(LH.read_table(spark, path, version=1), "v1")
           .unionByName(_roll(LH.read_table(spark, path), "v2"))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_time_travel"] = """
WITH i AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 3 = 0),
b AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 50.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 6 = 0),
v2 AS (SELECT * FROM i WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
       UNION ALL SELECT * FROM b),
r1 AS (SELECT o_orderstatus, count(*) AS n_orders,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              'v1' AS snapshot
       FROM i GROUP BY 1),
r2 AS (SELECT o_orderstatus, count(*) AS n_orders,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS total_price,
              'v2' AS snapshot
       FROM v2 GROUP BY 1)
SELECT * FROM r1 UNION ALL SELECT * FROM r2
"""


def lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE under the gate: seed a table with 9 cadence-sized
    files (create + two appends), range-cluster-compact on the order
    key, and report the structural outcome (file counts) next to a
    content rollup that must be IDENTICAL before and after — the
    oracle computes the same rollup straight from the op-log replay
    and derives the packed file count arithmetically
    (ceil(rows / target))."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_opt_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    LH.create_table(spark, path,
                    orders.filter(F.col("o_orderkey") % 2 == 1)
                    .repartition(4), ["o_orderkey"])
    LH.append_table(spark, path,
                    orders.filter(F.col("o_orderkey") % 4 == 0)
                    .repartition(3), ["o_orderkey"])
    LH.append_table(spark, path,
                    orders.filter(F.col("o_orderkey") % 4 == 2)
                    .repartition(2), ["o_orderkey"])
    n_before = len(LH.snapshot_files(spark, path))
    LH.compact(spark, path, target_rows=100_000, sort_by="o_orderkey")
    n_after = len(LH.snapshot_files(spark, path))

    out = (LH.read_table(spark, path)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"),
                F.countDistinct("o_orderkey").alias("n_keys"))
           .withColumn("n_files_before", F.lit(n_before))
           .withColumn("n_files_after", F.lit(n_after))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_compaction"] = """
SELECT count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_price,
       count(DISTINCT o_orderkey) AS n_keys,
       9 AS n_files_before,
       CAST(ceil(count(*) / 100000.0) AS BIGINT) AS n_files_after
FROM orders
"""


def lakehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed under the gate: create a log table from an
    orders subset, run ONE mixed merge (updates + inserts + deletes),
    then read the v1→v2 change feed off the copy-on-write file diff
    (`sources/lakehouse.read_changes`). The oracle replays the merge
    relationally and derives the same change rows: inserts are
    unmatched source keys, deletes are matched URGENT keys, updates
    emit pre- and post-image rows; COW carry-over rows (copied
    verbatim into rewritten files) must NOT appear — that is the
    property this gate actually pins."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_cdf_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    LH.create_table(spark, path, initial.repartition(6), ["o_orderkey"])

    batch = (orders.filter(F.col("o_orderkey") % 10 == 6)
             .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    LH.merge_into(spark, path, batch, ["o_orderkey"], update_set="all",
                  delete_condition=F.col("src.o_orderpriority")
                  == "1-URGENT")

    feed = (LH.read_changes(spark, path, from_version=1, to_version=2)
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    "o_orderpriority", "_change_type")
            .orderBy("o_orderkey", "_change_type")
            .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return feed


ORACLE["lakehouse_change_feed"] = """
WITH i AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 4 <> 0),
b AS (SELECT o_orderkey, o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 6),
ins AS (SELECT b.*, 'insert' AS _change_type FROM b
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM i)),
m AS (SELECT i.* FROM i WHERE o_orderkey IN (SELECT o_orderkey FROM b)),
del AS (SELECT m.*, 'delete' AS _change_type FROM m
        WHERE o_orderpriority = '1-URGENT'),
pre AS (SELECT m.*, 'update_preimage' AS _change_type FROM m
        WHERE o_orderpriority <> '1-URGENT'),
post AS (SELECT b.*, 'update_postimage' AS _change_type FROM b
         WHERE o_orderkey IN (SELECT o_orderkey FROM i)
           AND o_orderpriority <> '1-URGENT')
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
       o_orderpriority, _change_type
FROM (SELECT * FROM ins UNION ALL SELECT * FROM del
      UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post)
ORDER BY o_orderkey, _change_type
"""


def lakehouse_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under the gate: materialize a
    per-status count+sum MV from the v1 snapshot, run a mixed merge
    (updates + inserts + deletes), then refresh the MV from the v1→v2
    CHANGE FEED ONLY (`operators/ivm.apply_changes_to_mv` — the base
    table is never re-read). The oracle aggregates the replayed FINAL
    state directly, so a hash match proves the IVM identity:
    incremental fold == full recompute, to the last decimal digit."""
    from ..operators.ivm import aggregate_mv, apply_changes_to_mv
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_ivm_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    LH.create_table(spark, path, initial.repartition(6), ["o_orderkey"])
    sums = {"o_totalprice": "decimal(18,2)"}
    mv0 = aggregate_mv(LH.read_table(spark, path, version=1),
                       ["o_orderstatus"], sums).localCheckpoint(eager=True)

    batch = (orders.filter(F.col("o_orderkey") % 10 == 6)
             .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    LH.merge_into(spark, path, batch, ["o_orderkey"], update_set="all",
                  delete_condition=F.col("src.o_orderpriority")
                  == "1-URGENT")

    feed = LH.read_changes(spark, path, from_version=1, to_version=2)
    mv1 = apply_changes_to_mv(mv0, feed, ["o_orderstatus"], sums)
    out = (mv1.select("o_orderstatus",
                      F.col("n_rows").alias("n_orders"),
                      F.round("sum_o_totalprice", 2).cast("double")
                      .alias("total_price"))
           .orderBy("o_orderstatus")
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_incremental_mv"] = """
WITH i AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 4 <> 0),
b AS (SELECT o_orderkey, o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 6),
-- final state: unmatched base rows + matched-non-urgent updates + inserts
s2 AS (SELECT * FROM i WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
       UNION ALL
       SELECT b.* FROM b
       WHERE o_orderkey IN (SELECT o_orderkey FROM i)
         AND o_orderpriority <> '1-URGENT'
       UNION ALL
       SELECT b.* FROM b
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM i))
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price
FROM s2 GROUP BY 1 ORDER BY 1
"""


def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality audit under the gate: quantize
    (o_custkey, o_orderkey) to 16-bit grid coordinates (min/max
    linear scaling — exact integer arithmetic), interleave bits
    (`operators/layout.morton_key`), and roll up by the top-3-bit
    z-prefix — the quadtree cells a z-clustered layout writes as
    files. Each cell's min/max span in BOTH dimensions is what file
    stats would store, i.e. the pruning leverage a predicate on
    EITHER column gets. The oracle states the identical 16-term
    interleave; physical file narrowing is asserted structurally in
    tests/test_layout.py."""
    from ..operators.layout import morton_key
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(F.min("o_custkey").alias("minc"),
                   F.max("o_custkey").alias("maxc"),
                   F.min("o_orderkey").alias("mink"),
                   F.max("o_orderkey").alias("maxk"))
    q = (orders.crossJoin(F.broadcast(b))
         .select(
             "o_custkey", "o_orderkey",
             # greatest(span, 1): an all-equal column (single-key
             # slice) must quantize to 0, not divide by zero
             F.expr("((o_custkey - minc) * 65535)"
                    " div greatest(maxc - minc, 1)").alias("q1"),
             F.expr("((o_orderkey - mink) * 65535)"
                    " div greatest(maxk - mink, 1)").alias("q2")))
    z = morton_key(F.col("q1"), F.col("q2"), bits=16)
    return (q.withColumn("zcell", F.shiftright(z, 29))
            .groupBy("zcell")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_custkey").alias("min_custkey"),
                 F.max("o_custkey").alias("max_custkey"),
                 F.min("o_orderkey").alias("min_orderkey"),
                 F.max("o_orderkey").alias("max_orderkey"))
            .orderBy("zcell"))


ORACLE["zorder_locality_stats"] = """
WITH b AS (SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
                  min(o_orderkey) AS mink, max(o_orderkey) AS maxk
           FROM orders),
q AS (SELECT o_custkey, o_orderkey,
             ((o_custkey - minc) * 65535) // greatest(maxc - minc, 1) AS q1,
             ((o_orderkey - mink) * 65535) // greatest(maxk - mink, 1) AS q2
      FROM orders CROSS JOIN b),
z AS (SELECT o_custkey, o_orderkey,
             ((((q1 >> 0) & 1) * 1 + ((q2 >> 0) & 1) * 2) + (((q1 >> 1) & 1) * 4 + ((q2 >> 1) & 1) * 8) + (((q1 >> 2) & 1) * 16 + ((q2 >> 2) & 1) * 32) + (((q1 >> 3) & 1) * 64 + ((q2 >> 3) & 1) * 128) + (((q1 >> 4) & 1) * 256 + ((q2 >> 4) & 1) * 512) + (((q1 >> 5) & 1) * 1024 + ((q2 >> 5) & 1) * 2048) + (((q1 >> 6) & 1) * 4096 + ((q2 >> 6) & 1) * 8192) + (((q1 >> 7) & 1) * 16384 + ((q2 >> 7) & 1) * 32768) + (((q1 >> 8) & 1) * 65536 + ((q2 >> 8) & 1) * 131072) + (((q1 >> 9) & 1) * 262144 + ((q2 >> 9) & 1) * 524288) + (((q1 >> 10) & 1) * 1048576 + ((q2 >> 10) & 1) * 2097152) + (((q1 >> 11) & 1) * 4194304 + ((q2 >> 11) & 1) * 8388608) + (((q1 >> 12) & 1) * 16777216 + ((q2 >> 12) & 1) * 33554432) + (((q1 >> 13) & 1) * 67108864 + ((q2 >> 13) & 1) * 134217728) + (((q1 >> 14) & 1) * 268435456 + ((q2 >> 14) & 1) * 536870912) + (((q1 >> 15) & 1) * 1073741824 + ((q2 >> 15) & 1) * 2147483648)) AS zkey
      FROM q)
SELECT zkey >> 29 AS zcell, count(*) AS n_orders,
       min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
       min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey
FROM z GROUP BY 1 ORDER BY 1
"""


def lakehouse_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the lakehouse: MERGE-delete every
    row belonging to the erasure subjects (customers with
    o_custkey % 50 == 0), then audit the erasure from the CHANGE FEED
    (how many rows were physically deleted) and the final state (zero
    subject rows remain; untouched totals preserved). Vacuum after
    the retention window removes the pre-image files — noted in
    tests/test_lakehouse.py; the gate pins the logical erasure."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_gdpr_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    LH.create_table(spark, path, orders.repartition(6), ["o_orderkey"])

    subjects = orders.filter(F.col("o_custkey") % 50 == 0)
    LH.merge_into(spark, path, subjects, ["o_orderkey"],
                  update_set="all", delete_condition=F.lit(True))

    feed = LH.read_changes(spark, path, from_version=1, to_version=2)
    n_del = (feed.filter(F.col("_change_type") == "delete")
             .count())
    final = LH.read_table(spark, path)
    out = (final.agg(
        F.count(F.lit(1)).alias("n_remaining"),
        F.coalesce(F.sum((F.col("o_custkey") % 50 == 0).cast("long")),
                   F.lit(0)).alias("n_subject_rows_left"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,6)"), 2).cast("double")
        .alias("total_price_remaining"))
        .withColumn("n_deleted", F.lit(n_del).cast("long"))
        .select("n_deleted", "n_remaining", "n_subject_rows_left",
                "total_price_remaining")
        .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_gdpr_erasure"] = """
SELECT CAST((SELECT count(*) FROM orders WHERE o_custkey % 50 = 0)
            AS BIGINT) AS n_deleted,
       CAST((SELECT count(*) FROM orders WHERE o_custkey % 50 <> 0)
            AS BIGINT) AS n_remaining,
       CAST(0 AS BIGINT) AS n_subject_rows_left,
       (SELECT CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DECIMAL(38,6)), 2) AS DOUBLE)
        FROM orders WHERE o_custkey % 50 <> 0) AS total_price_remaining
"""


def lakehouse_expiration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiration under the gate: build a 3-version history
    (create, update-merge, delete-merge), expire to the last 2
    versions (checkpoint rewrite + history drop + kept-version-aware
    file removal), and audit: version counts, CURRENT state totals,
    and the previous version's row count — both reads run AFTER
    expiration, so a hash match proves the checkpoint carried the
    full base and kept snapshots stay exactly readable."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_exp_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    LH.create_table(spark, path,
                    orders.filter(F.col("o_orderkey") % 3 != 0)
                    .repartition(5), ["o_orderkey"])
    b1 = (orders.filter(F.col("o_orderkey") % 10 == 1)
          .withColumn("o_totalprice", F.col("o_totalprice") + 10.0))
    LH.merge_into(spark, path, b1, ["o_orderkey"], update_set="all")
    b2 = orders.filter(F.col("o_orderkey") % 10 == 2)
    LH.merge_into(spark, path, b2, ["o_orderkey"], update_set="all",
                  delete_condition=F.lit(True))

    rep = LH.expire_snapshots(spark, path, keep_last=2)
    cur = LH.read_table(spark, path)
    prev_rows = LH.read_table(spark, path, version=2).count()
    out = (cur.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,6)"), 2).cast("double")
        .alias("total_price"))
        .withColumn("n_expired", F.lit(len(rep["expired_versions"]))
                    .cast("long"))
        .withColumn("n_kept", F.lit(len(rep["kept_versions"]))
                    .cast("long"))
        .withColumn("prev_version_rows", F.lit(prev_rows).cast("long"))
        .select("n_expired", "n_kept", "n_rows", "prev_version_rows",
                "total_price")
        .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_expiration_audit"] = """
WITH i AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 <> 0),
b1 AS (SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
       FROM orders WHERE o_orderkey % 10 = 1),
s2 AS (SELECT * FROM i WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b1)
       UNION ALL SELECT * FROM b1),
-- v3: matched % 10 = 2 rows delete; unmatched insert
b2 AS (SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderkey % 10 = 2),
s3 AS (SELECT * FROM s2
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
       UNION ALL
       SELECT b2.* FROM b2
       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s2))
SELECT CAST(1 AS BIGINT) AS n_expired,
       CAST(2 AS BIGINT) AS n_kept,
       (SELECT count(*) FROM s3) AS n_rows,
       (SELECT count(*) FROM s2) AS prev_version_rows,
       (SELECT CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DECIMAL(38,6)), 2) AS DOUBLE)
        FROM s3) AS total_price
"""


def lakehouse_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish under the gate: stage a deliberately
    corrupted batch (status nulled for o_orderkey % 7 == 0), audit it
    with the expectation suite AGAINST THE STAGED FILES, abort it
    (table must be untouched), then stage+publish the cleaned batch.
    Output: the audit's violation count, the aborted-file count, and
    the final table rollup — which must equal base + clean batch
    exactly (the oracle replays the relational equivalent)."""
    from ..operators.validate import expectations_report
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_wap_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)

    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    LH.create_table(spark, path, base.repartition(4), ["o_orderkey"])

    batch = orders.filter(F.col("o_orderkey") % 2 == 1)
    bad = batch.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus")))

    pending = LH.stage_append(spark, path, bad.repartition(4),
                              ["o_orderkey"])
    audit = expectations_report(
        LH.read_staged(spark, path, pending),
        {"status_not_null": F.col("o_orderstatus").isNull()})
    n_viol = audit.collect()[0]["n_violations"]
    aborted = LH.abort_staged(spark, path, pending)

    clean = bad.filter(F.col("o_orderstatus").isNotNull())
    pending2 = LH.stage_append(spark, path, clean, ["o_orderkey"])
    LH.publish_staged(spark, path, pending2)

    out = (LH.read_table(spark, path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,6)"), 2).cast("double")
        .alias("total_price"))
        .withColumn("n_violations", F.lit(int(n_viol)).cast("long"))
        .withColumn("n_files_aborted", F.lit(len(aborted)).cast("long"))
        .select("n_violations", "n_files_aborted", "n_rows",
                "total_price")
        .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_wap_audit"] = """
WITH batch AS (SELECT o_orderkey, o_totalprice,
                      CASE WHEN o_orderkey % 7 = 0 THEN NULL
                           ELSE o_orderstatus END AS st
               FROM orders WHERE o_orderkey % 2 = 1),
final AS (SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 2 = 0
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM batch
          WHERE st IS NOT NULL)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM batch WHERE st IS NULL)
         AS n_violations,
       CAST(4 AS BIGINT) AS n_files_aborted,
       (SELECT count(*) FROM final) AS n_rows,
       (SELECT CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DECIMAL(38,6)), 2) AS DOUBLE)
        FROM final) AS total_price
"""


def lakehouse_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transactional commit under the gate
    (sources/lakehouse_txn.py): two log tables (an orders slice and a
    customer slice) receive one ATOMIC cross-table append — staged
    batches are invisible before the decision record lands (asserted
    via the pre-commit counts in the output), then a second
    transaction stages batches into both tables and ABORTS, which
    must leave no trace. Final state per table = base + committed
    batch only; the oracle replays the same relational algebra.

    The reference lands fact+dimension loads as separate per-table
    stored-proc writes (a crash between them leaves a half-landed
    subject area); this is the all-or-nothing version of that load.
    """
    from ..sources import lakehouse_txn as TX
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_txn_")
    pa, pb = f"{tmp}/orders_tbl", f"{tmp}/cust_tbl"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal")
    LH.create_table(spark, pa,
                    orders.filter(F.col("o_orderkey") % 3 == 0)
                    .repartition(4), ["o_orderkey"])
    LH.create_table(spark, pb,
                    cust.filter(F.col("c_custkey") % 3 == 0)
                    .repartition(2), ["c_custkey"])

    t1 = TX.begin_transaction(spark, f"{tmp}/_txns")
    t1.stage_append(pa, orders.filter(F.col("o_orderkey") % 3 == 1),
                    ["o_orderkey"])
    t1.stage_append(pb, cust.filter(F.col("c_custkey") % 3 == 1),
                    ["c_custkey"])
    # staged batches must be invisible pre-decision
    n_vis = {"orders": LH.read_table(spark, pa).count(),
             "customer": LH.read_table(spark, pb).count()}
    t1.commit()

    t2 = TX.begin_transaction(spark, f"{tmp}/_txns")
    t2.stage_append(pa, orders.filter(F.col("o_orderkey") % 3 == 2),
                    ["o_orderkey"])
    t2.stage_append(pb, cust.filter(F.col("c_custkey") % 3 == 2),
                    ["c_custkey"])
    t2.abort()

    def _summary(path: str, tag: str, val_col) -> DataFrame:
        return (LH.read_table(spark, path).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(val_col.cast("decimal(18,2)"))
                    .cast("decimal(38,6)"), 2).cast("double")
            .alias("total_val"))
            .withColumn("tbl", F.lit(tag))
            .withColumn("version",
                        F.lit(LH.current_version(spark, path))
                        .cast("long"))
            .withColumn("n_staged_invisible",
                        F.lit(int(n_vis[tag])).cast("long"))
            .select("tbl", "version", "n_staged_invisible", "n_rows",
                    "total_val"))

    out = (_summary(pa, "orders", F.col("o_totalprice"))
           .unionByName(_summary(pb, "customer", F.col("c_acctbal")))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_multi_table_txn"] = """
WITH a0 AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 3 = 0),
a1 AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 3 = 1),
b0 AS (SELECT c_acctbal AS v FROM customer WHERE c_custkey % 3 = 0),
b1 AS (SELECT c_acctbal AS v FROM customer WHERE c_custkey % 3 = 1)
SELECT 'orders' AS tbl, CAST(2 AS BIGINT) AS version,
       (SELECT count(*) FROM a0) AS n_staged_invisible,
       (SELECT count(*) FROM a0) + (SELECT count(*) FROM a1) AS n_rows,
       (SELECT CAST(round(CAST(sum(CAST(v AS DECIMAL(18,2)))
                               AS DECIMAL(38,6)), 2) AS DOUBLE)
        FROM (SELECT v FROM a0 UNION ALL SELECT v FROM a1)) AS total_val
UNION ALL
SELECT 'customer' AS tbl, CAST(2 AS BIGINT) AS version,
       (SELECT count(*) FROM b0) AS n_staged_invisible,
       (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1) AS n_rows,
       (SELECT CAST(round(CAST(sum(CAST(v AS DECIMAL(18,2)))
                               AS DECIMAL(38,6)), 2) AS DOUBLE)
        FROM (SELECT v FROM b0 UNION ALL SELECT v FROM b1)) AS total_val
"""


def lakehouse_zorder_box_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data-skipping under the gate: build a log table
    from orders, OPTIMIZE ZORDER BY (o_custkey, o_orderkey) into ~12
    files, then answer a two-sided box query through
    ``read_table_pruned_multi`` — the conjunctive per-file stats
    prune that z-order clustering exists to serve. The box spans the
    [25%, 50%] slice of each key's min/max range (exact integer
    arithmetic, so the oracle states the identical bounds), i.e.
    1/16 of the key plane: the pruned read MUST open strictly fewer
    files than the table holds (``pruned_strictly``), and the rows it
    returns must equal the plain relational box filter."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_zbox_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    # 24 cadence-sized seed files: each holds < target_rows (n/12)
    # rows, so OPTIMIZE selects all of them for the z-order rewrite
    LH.create_table(spark, path, orders.repartition(24), ["o_orderkey"])
    bounds = orders.agg(
        F.min("o_custkey").alias("minc"), F.max("o_custkey").alias("maxc"),
        F.min("o_orderkey").alias("mink"), F.max("o_orderkey").alias("maxk"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    LH.compact(spark, path, target_rows=max(1, bounds["n"] // 12),
               zorder_by=["o_custkey", "o_orderkey"])
    box = {
        "o_custkey": (
            bounds["minc"] + (bounds["maxc"] - bounds["minc"]) // 4,
            bounds["minc"] + (bounds["maxc"] - bounds["minc"]) // 2),
        "o_orderkey": (
            bounds["mink"] + (bounds["maxk"] - bounds["mink"]) // 4,
            bounds["mink"] + (bounds["maxk"] - bounds["mink"]) // 2),
    }
    n_live = len(LH.snapshot_files(spark, path))
    n_open = len(LH.pruned_candidate_files(spark, path, box))
    out = (LH.read_table_pruned_multi(spark, path, box)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_custkey").alias("n_custs"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("pruned_strictly", F.lit(n_open < n_live))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_zorder_box_read"] = """
WITH b AS (SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
                  min(o_orderkey) AS mink, max(o_orderkey) AS maxk
           FROM orders),
box AS (SELECT o.o_custkey, o.o_totalprice FROM orders o CROSS JOIN b
        WHERE o.o_custkey BETWEEN minc + (maxc - minc) // 4
                              AND minc + (maxc - minc) // 2
          AND o.o_orderkey BETWEEN mink + (maxk - mink) // 4
                               AND mink + (maxk - mink) // 2)
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_custs,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS pruned_strictly
FROM box
"""


def lakehouse_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-filter point lookup under the gate: orders gets
    an md5 fingerprint column (high-cardinality, UNSORTED — every
    file's [min, max] spans the domain, so min/max stats cannot skip
    a single file), the table declares ``bloom_cols=["u"]``, and a
    find-by-fingerprint lookup runs through
    ``read_table_point_lookup``. The probed value is the max
    orderkey's fingerprint (deterministic at any SF; the oracle
    states the same row relationally); ``bloom_pruned_strictly``
    asserts the bloom skipped at least one of the 12 files — which
    min/max provably cannot."""
    import hashlib
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_bloom_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    keyed = orders.withColumn(
        "u", F.md5(F.col("o_orderkey").cast("string")))
    LH.create_table(spark, path, keyed.repartition(12), ["o_orderkey"],
                    bloom_cols=["u"])
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    probe = hashlib.md5(str(max_key).encode()).hexdigest()
    n_live = len(LH.snapshot_files(spark, path))
    n_open = len(LH.pruned_candidate_files(spark, path, None,
                                           eq={"u": probe}))
    out = (LH.read_table_point_lookup(spark, path, {"u": probe})
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.max("o_orderkey").alias("found_orderkey"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("bloom_pruned_strictly", F.lit(n_open < n_live))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_bloom_point_lookup"] = """
SELECT count(*) AS n_rows,
       max(o_orderkey) AS found_orderkey,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS bloom_pruned_strictly
FROM orders
WHERE md5(CAST(o_orderkey AS VARCHAR))
      = (SELECT md5(CAST(max(o_orderkey) AS VARCHAR)) FROM orders)
"""


def lakehouse_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-table DML family under the gate: UPDATE WHERE
    (urgent orders get +10.00), DELETE WHERE (filled orders on a
    key cadence), then RESTORE to the pre-DML version. Both the
    post-DML and post-restore states are aggregated; the oracle
    replays the DML relationally and states the restore as the
    untouched base table — proving the rollback is exact while the
    DML history remains time-travelable."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_dml_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(6), ["o_orderkey"])

    LH.update_where(spark, path, "o_orderpriority = '1-URGENT'",
                    {"o_totalprice": "o_totalprice + 10.0"})
    LH.delete_where(spark, path,
                    "o_orderstatus = 'F' AND o_orderkey % 5 = 0")

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return (df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("decimal(38,6)"), 2)
            .cast("double").alias("total_price"))
            .withColumn("phase", F.lit(phase)))

    after_dml = _agg(LH.read_table(spark, path), "after_dml")
    LH.restore_table(spark, path, 1)
    after_restore = _agg(LH.read_table(spark, path), "after_restore")
    out = (after_dml.unionByName(after_restore)
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_dml_roundtrip"] = """
WITH updated AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
  FROM orders),
after_dml AS (
  SELECT * FROM updated
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0))
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_dml' AS phase
FROM after_dml
UNION ALL
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_restore' AS phase
FROM orders
ORDER BY phase
"""


def lakehouse_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lakehouse table under the gate: orders gains
    ``o_year`` (7 distinct values at any SF) and the table is created
    with ``partition_by=["o_year"]`` — every data file holds exactly
    one year, lands under ``o_year=NNNN/``, and its add-action records
    the value. A 2-year box read must open strictly fewer files than
    live, pruned DRIVER-side from the log alone (Delta's
    partitionValues semantics — the first-order pruning lever at
    10^6-file scale); the oracle states the same read relationally."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_part_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice")
    keyed = orders.withColumn("o_year", F.year("o_orderdate"))
    LH.create_table(spark, path, keyed.repartition(3), ["o_orderkey"],
                    partition_by=["o_year"])
    n_live = len(LH.snapshot_files(spark, path))
    n_open = len(LH.pruned_candidate_files(spark, path,
                                           {"o_year": (1994, 1995)}))
    out = (LH.read_table_pruned_multi(spark, path,
                                      {"o_year": (1994, 1995)})
           .groupBy("o_year")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("partition_pruned_strictly",
                       F.lit(n_open < n_live))
           .orderBy("o_year")
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_partition_pruned_read"] = """
SELECT year(o_orderdate) AS o_year,
       count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS partition_pruned_strictly
FROM orders
WHERE year(o_orderdate) BETWEEN 1994 AND 1995
GROUP BY 1
ORDER BY 1
"""


def lakehouse_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF under the gate: create an orders table,
    capture the create-commit's wall clock from ``history()``, apply
    an UPDATE WHERE, then read the table AS OF the captured instant —
    which must yield the pre-update state — alongside the latest
    snapshot. The oracle states the base table for the as-of phase
    and replays the update for the latest phase."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_tstravel_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(4), ["o_orderkey"])
    t_create = LH.history(spark, path)[-1]["ts"]
    LH.update_where(spark, path, "o_orderpriority = '1-URGENT'",
                    {"o_totalprice": "o_totalprice + 10.0"})

    def _agg(df: DataFrame, phase: str) -> DataFrame:
        return (df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("decimal(38,6)"), 2)
            .cast("double").alias("total_price"))
            .withColumn("phase", F.lit(phase)))

    as_of = _agg(LH.read_table(spark, path, as_of_timestamp=t_create),
                 "as_of_create")
    latest = _agg(LH.read_table(spark, path), "latest")
    out = (as_of.unionByName(latest)
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_timestamp_travel"] = """
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'as_of_create' AS phase
FROM orders
UNION ALL
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                                     THEN o_totalprice + 10.0
                                     ELSE o_totalprice END
                            AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'latest' AS phase
FROM orders
ORDER BY phase
"""


def lakehouse_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints under the gate: the table declares
    ``o_totalprice >= 0`` and a status whitelist at create; a batch
    with negated prices must be REJECTED whole (nothing committed —
    the Delta ALTER TABLE ADD CONSTRAINT contract), then the valid
    form of the same batch lands. The final state is therefore
    exactly the full orders table, which the oracle states
    relationally; ``bad_batch_rejected`` carries the enforcement
    proof."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_check_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    LH.create_table(
        spark, path, base.repartition(4), ["o_orderkey"],
        constraints={"price_nonneg": "o_totalprice >= 0",
                     "status_known": "o_orderstatus IN ('F', 'O', 'P')"})
    rest = orders.filter(F.col("o_orderkey") % 3 == 0)
    bad = rest.withColumn("o_totalprice", -F.col("o_totalprice"))
    rejected = False
    v_before = LH.current_version(spark, path)
    try:
        LH.append_table(spark, path, bad)
    except LH.ConstraintViolationError:
        rejected = True
    rejected = rejected and LH.current_version(spark, path) == v_before
    LH.append_table(spark, path, rest)
    out = (LH.read_table(spark, path)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("bad_batch_rejected", F.lit(rejected))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_check_constraints"] = """
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS bad_batch_rejected
FROM orders
"""


def lakehouse_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT-in-place under the gate: orders is first written as a
    PLAIN parquet directory (6 range-clustered files, no commit log —
    the pre-lakehouse state every migration starts from), then
    ``convert_to_table`` onboards it with zero data movement
    (``zero_copy`` proves every file kept its mtime). The convert's
    one stats scan makes key-range data skipping live immediately:
    a bottom-5% key read must open strictly fewer files than live.
    The oracle states the same range read relationally."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_convert_")
    pdir = f"{tmp}/orders_plain"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    (orders.repartitionByRange(6, "o_orderkey")
     .write.parquet(pdir))
    before = {f: _os.path.getmtime(_os.path.join(pdir, f))
              for f in _os.listdir(pdir) if f.endswith(".parquet")}
    res = LH.convert_to_table(spark, pdir, ["o_orderkey"])
    after = {f: _os.path.getmtime(_os.path.join(pdir, f))
             for f in _os.listdir(pdir) if f.endswith(".parquet")}
    zero_copy = (after == before and res["n_files"] == len(before))
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    lo, hi = 1, max_key // 20
    n_live = len(LH.snapshot_files(spark, pdir))
    n_open = len(LH.pruned_candidate_files(spark, pdir,
                                           {"o_orderkey": (lo, hi)}))
    out = (LH.read_table_pruned_multi(spark, pdir,
                                      {"o_orderkey": (lo, hi)})
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("zero_copy", F.lit(zero_copy))
           .withColumn("stat_pruned_strictly", F.lit(n_open < n_live))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_convert_in_place"] = """
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS zero_copy,
       TRUE AS stat_pruned_strictly
FROM orders
WHERE o_orderkey BETWEEN 1
      AND (SELECT max(o_orderkey) // 20 FROM orders)
"""


def lakehouse_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN without rewrite under the gate: create from 2/3
    of orders, rename ``o_totalprice`` → ``price`` (metadata-only —
    zero files rewritten, asserted via the snapshot file set), then
    MERGE an update+insert batch THROUGH the new name: matched rows
    update (all columns), unmatched insert, and the touched files
    migrate to the new physical name while untouched pre-rename files
    are read through the coalescing mapping. The oracle replays the
    upsert relationally with the renamed output column."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_rename_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    LH.create_table(spark, path, base.repartition(6), ["o_orderkey"])
    files_before = set(LH.snapshot_files(spark, path))
    LH.rename_column(spark, path, "o_totalprice", "price")
    rename_was_metadata_only = (
        set(LH.snapshot_files(spark, path)) == files_before)
    batch = (orders.filter(F.col("o_orderkey") % 10 == 3)
             .withColumnRenamed("o_totalprice", "price")
             .withColumn("price", F.col("price") + 100.0))
    LH.merge_into(spark, path, batch, ["o_orderkey"], update_set="all")
    out = (LH.read_table(spark, path)
           .groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("price").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("sum_price"))
           .withColumn("rename_was_metadata_only",
                       F.lit(rename_was_metadata_only))
           .orderBy("o_orderstatus")
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_rename_column"] = """
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 3 <> 0),
b AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS price,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 3),
final AS (SELECT * FROM base
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
          UNION ALL
          SELECT * FROM b)
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(price AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_price,
       TRUE AS rename_was_metadata_only
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def lakehouse_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (deletion vectors) under the gate: a
    cadence delete lands as a position sidecar with ZERO data files
    rewritten (``mor_was_metadata_only`` checks the live file set AND
    every mtime), reads overlay the vectors, and OPTIMIZE purges them
    by materializing the deletes — both the post-delete and
    post-purge states are aggregated and must equal the same
    relational answer."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_mor_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(6), ["o_orderkey"])
    files = [f.replace("file:", "") for f in LH.snapshot_files(spark, path)]
    mtimes = {f: _os.path.getmtime(f) for f in files}
    res = LH.delete_where(spark, path, "o_orderkey % 7 = 0", mode="mor")
    files2 = [f.replace("file:", "")
              for f in LH.snapshot_files(spark, path)]
    untouched = (sorted(files2) == sorted(files)
                 and all(_os.path.getmtime(f) == m
                         for f, m in mtimes.items())
                 and res["n_rows_deleted"] > 0)

    def _agg(phase: str) -> DataFrame:
        return (LH.read_table(spark, path)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("phase", F.lit(phase)))

    after_mor = _agg("after_mor")
    LH.compact(spark, path, target_rows=10_000_000)  # purge
    after_purge = _agg("after_purge")
    out = (after_mor.unionByName(after_purge)
           .withColumn("mor_was_metadata_only", F.lit(untouched))
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_mor_delete"] = """
WITH kept AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0)
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_mor' AS phase,
       TRUE AS mor_was_metadata_only
FROM kept
UNION ALL
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_purge' AS phase,
       TRUE AS mor_was_metadata_only
FROM kept
ORDER BY phase
"""


def lakehouse_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE under the gate: urgent orders get +10.00
    via ``update_where(mode="mor")`` — the matched rows land as a
    deletion vector plus one small add-file in the SAME commit, and
    every original data file survives byte-untouched
    (``mor_was_sparse`` checks mtimes and that the original file set
    is a strict subset of the new snapshot). Both the post-update
    overlay read and the post-OPTIMIZE purge must equal the same
    relational UPDATE replay."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_morupd_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(6), ["o_orderkey"])
    files = [f.replace("file:", "") for f in LH.snapshot_files(spark, path)]
    mtimes = {f: _os.path.getmtime(f) for f in files}
    res = LH.update_where(spark, path, "o_orderpriority = '1-URGENT'",
                          {"o_totalprice": "o_totalprice + 10.0"},
                          mode="mor")
    after = {f.replace("file:", "")
             for f in LH.snapshot_files(spark, path)}
    sparse = (set(files) < after
              and all(_os.path.getmtime(f) == m for f, m in mtimes.items())
              and res["n_rows_updated"] > 0)

    def _agg(phase: str) -> DataFrame:
        return (LH.read_table(spark, path)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("phase", F.lit(phase)))

    after_mor = _agg("after_mor")
    LH.compact(spark, path, target_rows=10_000_000)
    after_purge = _agg("after_purge")
    out = (after_mor.unionByName(after_purge)
           .withColumn("mor_was_sparse", F.lit(sparse))
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_mor_update"] = """
WITH updated AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
  FROM orders)
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_mor' AS phase,
       TRUE AS mor_was_sparse
FROM updated
UNION ALL
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_purge' AS phase,
       TRUE AS mor_was_sparse
FROM updated
ORDER BY phase
"""


def lakehouse_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE under the gate: a mixed
    update/delete/insert batch lands as deletion vectors + small
    add-files with ZERO existing files rewritten
    (``mor_was_sparse`` checks every original file survives
    byte-untouched) — matched URGENT rows delete, other matched rows
    update (all columns, price+100), unmatched insert. The oracle
    replays the clauses relationally over the grouped final state."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_mormerge_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    base = orders.filter(F.col("o_orderkey") % 4 != 0)
    LH.create_table(spark, path, base.repartition(6), ["o_orderkey"])
    files = [f.replace("file:", "") for f in LH.snapshot_files(spark, path)]
    mtimes = {f: _os.path.getmtime(f) for f in files}
    batch = (orders.filter(F.col("o_orderkey") % 10 == 3)
             .withColumn("o_totalprice", F.col("o_totalprice") + 100.0))
    res = LH.merge_into(
        spark, path, batch, ["o_orderkey"], update_set="all",
        delete_condition=F.col("src.o_orderpriority") == "1-URGENT",
        mode="mor")
    after = {f.replace("file:", "")
             for f in LH.snapshot_files(spark, path)}
    sparse = (set(files) <= after
              and all(_os.path.getmtime(f) == m for f, m in mtimes.items())
              and res["n_rows_modified"] > 0)
    out = (LH.read_table(spark, path)
           .groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("sum_price"))
           .withColumn("mor_was_sparse", F.lit(sparse))
           .orderBy("o_orderstatus")
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_mor_merge"] = """
WITH i AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 4 <> 0),
b AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 3),
final AS (SELECT * FROM i
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
          UNION ALL
          SELECT b.* FROM b
          WHERE o_orderkey IN (SELECT o_orderkey FROM i)
            AND o_orderpriority <> '1-URGENT'
          UNION ALL
          SELECT b.* FROM b
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM i))
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_price,
       TRUE AS mor_was_sparse
FROM final
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def lakehouse_parquet_checkpoint(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Distributed metadata plane under the gate: a range-clustered
    multi-file table is expired with a PARQUET checkpoint (add-action
    table on disk, ``add: []`` in the JSON doc), and both the
    key-range read and the Bloom point lookup prune through the
    Spark-side filter job (``_adds_df_at`` is non-None → stats and
    Bloom lanes never materialize on the driver). Flags assert the
    plane's shape; the aggregates assert the pruned reads return
    exactly the relational answer."""
    import json as _json
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_pckpt_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(
        spark, path,
        orders.repartitionByRange(24, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        ["o_orderkey"], bloom_cols=["o_orderkey"])
    # a SURGICAL delete: only the file(s) covering [100, 299] are
    # rewritten, so the band-read's files keep their original range
    # clustering. (A spray delete like `% 97 = 0` rewrites EVERY
    # file, and the rewrite scan's split packing is size-ordered —
    # at low local parallelism it mixes ranges and widens the
    # rewritten files' min/max stats, making the band_pruned flag
    # partition-layout-dependent. Found by the local[8]/shuffle=7
    # sweep.)
    LH.delete_where(spark, path, "o_orderkey BETWEEN 100 AND 299")  # v2
    LH.expire_snapshots(spark, path, keep_last=1,
                        checkpoint_format="parquet")
    log = f"{path}/_log"
    ckpt = next(f for f in _os.listdir(log)
                if f.endswith(".checkpoint.json"))
    doc = _json.loads(open(f"{log}/{ckpt}").read())
    ckpt_parquet = (doc.get("add") == [] and "adds_parquet" in doc)
    spark_plane = LH._adds_df_at(spark, path) is not None
    n_live = len(LH.snapshot_files(spark, path))
    keep_band = LH.pruned_candidate_files(spark, path,
                                          {"o_orderkey": (1000, 2000)})
    keep_pt = LH.pruned_candidate_files(spark, path, None,
                                        eq={"o_orderkey": 1})
    band = LH.read_table_pruned(spark, path, "o_orderkey", 1000, 2000)
    point_found = (LH.read_table_point_lookup(
        spark, path, {"o_orderkey": 1}).count() == 1)
    out = (band.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(38,6)"), 2)
        .cast("double").alias("total_price"))
        .withColumn("ckpt_parquet", F.lit(bool(ckpt_parquet)))
        .withColumn("spark_plane", F.lit(bool(spark_plane)))
        .withColumn("band_pruned",
                    F.lit(len(keep_band) < n_live / 2))
        .withColumn("point_pruned",
                    F.lit(len(keep_pt) < n_live / 2))
        .withColumn("point_found", F.lit(bool(point_found)))
        .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_parquet_checkpoint"] = """
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS ckpt_parquet, TRUE AS spark_plane,
       TRUE AS band_pruned, TRUE AS point_pruned, TRUE AS point_found
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 2000
  AND o_orderkey NOT BETWEEN 100 AND 299
"""


def lakehouse_restore_across_mor(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """RESTORE across a merge-on-read delete: the restore commit
    restates the TARGET version's deletion-vector state, so every
    MOR-deleted row resurrects (the round-4 review's data-loss repro,
    inverted into a gate query); the orphaned sidecar leaves the log
    (live DV debt 0) and vacuum reaps it from disk."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_restmor_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(6), ["o_orderkey"])

    def _agg(phase: str) -> DataFrame:
        return (LH.read_table(spark, path)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("phase", F.lit(phase)))

    LH.delete_where(spark, path, "o_orderkey % 3 = 0", mode="mor")  # v2
    mid = _agg("after_mor_delete").localCheckpoint(eager=True)
    LH.restore_table(spark, path, 1)                                # v3
    debt_zero = LH.dv_debt(spark, path)["dv_rows"] == 0
    LH.vacuum(spark, path)
    dv_dir = f"{path}/_dv"
    reaped = (not _os.path.isdir(dv_dir)
              or not [f for f in _os.listdir(dv_dir)
                      if f.endswith(".parquet")])
    out = (mid.unionByName(_agg("after_restore"))
           .withColumn("dv_state_repointed", F.lit(bool(debt_zero)))
           .withColumn("sidecar_reaped", F.lit(bool(reaped)))
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_restore_across_mor"] = """
WITH agg AS (
  SELECT count(*) AS n_rows,
         CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
         'after_mor_delete' AS phase
  FROM orders WHERE o_orderkey % 3 <> 0
  UNION ALL
  SELECT count(*) AS n_rows,
         CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
         'after_restore' AS phase
  FROM orders)
SELECT n_rows, total_price, phase,
       TRUE AS dv_state_repointed, TRUE AS sidecar_reaped
FROM agg ORDER BY phase
"""


def lakehouse_dv_auto_maintenance(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The MOR maintenance trigger under the gate:
    ``compact(if_dv_fraction_over=...)`` is a no-op below the DV-debt
    threshold (version unchanged) and fires above it — the vectors
    materialize away (debt returns to zero) and the read equals the
    relational DELETE replay both before and after."""
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_dvmaint_")
    path = f"{tmp}/orders_tbl"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, path, orders.repartition(4), ["o_orderkey"])
    LH.delete_where(spark, path, "o_orderkey % 5 = 0", mode="mor")
    v = LH.current_version(spark, path)
    r_below = LH.compact(spark, path, target_rows=10_000_000,
                         if_dv_fraction_over=0.5)   # ~20% debt: no-op
    below_noop = (r_below["triggered"] is False
                  and LH.current_version(spark, path) == v)
    r_above = LH.compact(spark, path, target_rows=10_000_000,
                         if_dv_fraction_over=0.1)   # fires
    cleared = (r_above["n_files_compacted"] > 0
               and LH.dv_debt(spark, path)["dv_rows"] == 0)
    out = (LH.read_table(spark, path)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice")
                              .cast("decimal(18,2)"))
                        .cast("decimal(38,6)"), 2)
                .cast("double").alias("total_price"))
           .withColumn("below_threshold_noop", F.lit(bool(below_noop)))
           .withColumn("above_threshold_cleared", F.lit(bool(cleared)))
           .localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_dv_auto_maintenance"] = """
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       TRUE AS below_threshold_noop, TRUE AS above_threshold_cleared
FROM orders WHERE o_orderkey % 5 <> 0
"""


def lakehouse_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE under the gate: fork an orders table carrying a
    merge-on-read delete into a zero-copy clone (ONE metadata commit —
    ``clone_was_zero_copy`` asserts no data file lands under the clone
    root and every source file keeps its mtime), then diverge both
    sides: a copy-on-write UPDATE on the CLONE and a DELETE on the
    SOURCE. Three phases are aggregated — the clone at fork time
    (inherited files + inherited deletion vectors), the clone after
    its own UPDATE (source rows untouched), and the source after its
    own DELETE (clone rows untouched) — and must equal the relational
    replay."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_clone_")
    src, dst = f"{tmp}/orders_src", f"{tmp}/orders_clone"
    orders = load_table(spark, sf_dir, "orders").select(*_COLS)
    LH.create_table(spark, src, orders.repartition(6), ["o_orderkey"])
    LH.delete_where(spark, src, "o_orderkey % 7 = 0", mode="mor")
    src_files = [f.replace("file:", "")
                 for f in LH.snapshot_files(spark, src)]
    mtimes = {f: _os.path.getmtime(f) for f in src_files}
    LH.clone_table(spark, src, dst)

    def _agg(path: str, phase: str) -> DataFrame:
        return (LH.read_table(spark, path)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("phase", F.lit(phase)))

    at_fork = _agg(dst, "clone_at_fork")
    # diverge: UPDATE on the clone, DELETE on the source
    LH.update_where(spark, dst, "o_orderpriority = '1-URGENT'",
                    {"o_totalprice": "o_totalprice + 5.0"})
    LH.delete_where(spark, src, "o_orderkey % 5 = 0")
    clone_after = _agg(dst, "clone_after_update")
    src_after = _agg(src, "source_after_delete")
    clone_data = [e.name for e in LH._data_files_on_disk(spark, dst)]
    # the clone's own UPDATE wrote files under its root; zero-copy
    # means the FORK itself wrote none — every inherited source file
    # is byte-untouched and all pre-update clone reads used them
    zero_copy = (all(_os.path.getmtime(f) == m for f, m in mtimes.items())
                 and all("part-" in r for r in clone_data))
    out = (at_fork.unionByName(clone_after).unionByName(src_after)
           .withColumn("clone_was_zero_copy", F.lit(bool(zero_copy)))
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_shallow_clone"] = """
WITH live AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
agg AS (
  SELECT count(*) AS n_rows,
         CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
         'clone_at_fork' AS phase
  FROM live
  UNION ALL
  SELECT count(*),
         CAST(round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                                       THEN o_totalprice + 5.0
                                       ELSE o_totalprice END
                              AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)), 2) AS DOUBLE),
         'clone_after_update'
  FROM live
  UNION ALL
  SELECT count(*),
         CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)), 2) AS DOUBLE),
         'source_after_delete'
  FROM live WHERE o_orderkey % 5 <> 0)
SELECT n_rows, total_price, phase, TRUE AS clone_was_zero_copy
FROM agg ORDER BY phase
"""


def lakehouse_scoped_optimize(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """OPTIMIZE ... WHERE under the gate: a hive-partitioned orders
    table carries one merge-on-read delete per partition; a compact
    scoped to ONE partition must (a) leave every out-of-scope file
    byte-untouched (mtime-proven), (b) materialize only the in-scope
    deletion vector while the out-of-scope vector keeps applying to
    reads, and (c) leave the table's relational answer exactly
    unchanged. A final unscoped OPTIMIZE purges the rest and must
    again change nothing relationally."""
    import os as _os
    tmp = tempfile.mkdtemp(prefix="luma_lakehouse_scopt_")
    path = f"{tmp}/orders_tbl"
    orders = (load_table(spark, sf_dir, "orders").select(*_COLS)
              .withColumn("bucket", (F.col("o_orderkey") % 3)
                          .cast("int")))
    LH.create_table(spark, path, orders.repartition(4), ["o_orderkey"],
                    partition_by=["bucket"])
    LH.append_table(spark, path, orders.filter("o_orderkey % 500 = 1"),
                    ["o_orderkey"])  # fragment every partition
    LH.delete_where(spark, path, "o_orderkey % 3 = 0 AND "
                    "o_orderkey % 11 = 0", mode="mor")   # bucket 0
    LH.delete_where(spark, path, "o_orderkey % 3 = 1 AND "
                    "o_orderkey % 13 = 0", mode="mor")   # bucket 1
    out_files = {f.replace("file:", ""): None
                 for f in LH.snapshot_files(spark, path)
                 if "bucket=0" not in f}
    mtimes = {f: _os.path.getmtime(f) for f in out_files}
    pre_debt = LH.dv_debt(spark, path)["dv_rows"]
    LH.compact(spark, path, target_rows=10_000_000,
               where_partition={"bucket": 0})
    post = {f.replace("file:", "")
            for f in LH.snapshot_files(spark, path)}
    untouched = (set(mtimes) <= post
                 and all(_os.path.getmtime(f) == m
                         for f, m in mtimes.items()))
    # in-scope vector materialized, out-of-scope vector survives
    debt_after = LH.dv_debt(spark, path)["dv_rows"]
    scoped_ok = bool(untouched and 0 < debt_after < pre_debt)

    def _agg(phase: str) -> DataFrame:
        return (LH.read_table(spark, path)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,2)"))
                             .cast("decimal(38,6)"), 2)
                     .cast("double").alias("total_price"))
                .withColumn("phase", F.lit(phase)))

    after_scoped = _agg("after_scoped")
    LH.compact(spark, path, target_rows=10_000_000)
    purged = LH.dv_debt(spark, path)["dv_rows"] == 0
    after_full = _agg("after_full")
    out = (after_scoped.unionByName(after_full)
           .withColumn("scoped_was_isolated", F.lit(scoped_ok))
           .withColumn("fully_purged", F.lit(bool(purged)))
           .orderBy("phase").localCheckpoint(eager=True))
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["lakehouse_scoped_optimize"] = """
WITH doubled AS (
  SELECT o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 500 = 1),
kept AS (
  SELECT * FROM doubled
  WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 11 = 0)
    AND NOT (o_orderkey % 3 = 1 AND o_orderkey % 13 = 0))
SELECT count(*) AS n_rows,
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_price,
       'after_scoped' AS phase,
       TRUE AS scoped_was_isolated, TRUE AS fully_purged
FROM kept
UNION ALL
SELECT count(*),
       CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,6)), 2) AS DOUBLE),
       'after_full', TRUE, TRUE
FROM kept
ORDER BY phase
"""


def lakehouse_hidden_partitioning(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Iceberg-style HIDDEN partitioning under the gate: the table is
    created with `partition_by=["days(ts)", "bucket(8, user_id)"]`
    (sources/lakehouse.parse_partition_spec — the derived values, not
    the source columns, become the partition keys), and the probes
    filter on the SOURCE columns only: a `ts` day-range must open
    only that day's files (`day_pruned`), a `user_id` equality must
    open only its hash bucket's files (`bucket_pruned`), the data
    schema must carry NO derived column (`layout_hidden`), and the
    pruned reads' contents must equal the oracle's plain SQL over
    events. Flags are layout-independent: they compare kept files
    against the partition values the probes imply, never against
    file counts of a particular write layout (beyond "strictly fewer
    than all files", which any multi-day / multi-bucket corpus
    guarantees at every sf).

    Reference scope: beyond-reference (Iceberg spec, Partition
    Transforms); completes the partition-pruning family
    (`lakehouse_partition_pruned_read` covers identity partitions).
    """
    import datetime as dt
    import hashlib as hl
    tmp = tempfile.mkdtemp(prefix="luma_lh_hidden_")
    path = f"{tmp}/t"
    full = (load_table(spark, sf_dir, "events")
            .select("user_id", "ts", "event_id", "value"))
    mn = full.agg(F.min("ts").alias("t")).collect()[0]
    day0 = mn["t"].replace(hour=0, minute=0, second=0, microsecond=0)
    # bound the partition-dir count (8 days x 4 buckets): hidden
    # partitioning is about PRUNING leverage, not dir cardinality,
    # and a windowed feed keeps the scenario build O(32 dirs) at
    # every sf — the oracle applies the identical window
    feed = full.filter((F.col("ts") >= F.lit(day0))
                       & (F.col("ts") < F.lit(day0
                                              + dt.timedelta(days=8))))
    LH.create_table(spark, path, feed.repartition(2), ["event_id"],
                    partition_by=["days(ts)", "bucket(4, user_id)"])
    # probe user = min user WITHIN the window (guaranteed present)
    u = int(feed.agg(F.min("user_id")).collect()[0][0])
    hi = day0 + dt.timedelta(days=1) - dt.timedelta(microseconds=1)
    dstr = day0.strftime("%Y-%m-%d")
    total = len(LH.snapshot_files(spark, path))
    keep_day = LH.pruned_candidate_files(spark, path,
                                         {"ts": (day0, hi)})
    day_pruned = (bool(keep_day) and len(keep_day) < total
                  and all(f"ts_day={dstr}" in f for f in keep_day))
    bkt = int(hl.md5(f"0:{u}".encode()).hexdigest()[:8], 16) % 4
    keep_u = LH.pruned_candidate_files(spark, path, None,
                                       eq={"user_id": u})
    bucket_pruned = (bool(keep_u) and len(keep_u) < total
                     and all(f"user_id_bucket={bkt}" in f
                             for f in keep_u))
    # min-user rows may sit outside the 8-day window: count within
    layout_hidden = (LH.read_table(spark, path).columns
                     == ["user_id", "ts", "event_id", "value"])
    day_row = (LH.read_table_pruned(spark, path, "ts", day0, hi)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("event_id").alias("s")).collect()[0])
    n_user = LH.read_table_point_lookup(spark, path,
                                        {"user_id": u}).count()
    shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark, 
        [(bool(day_pruned), bool(bucket_pruned), bool(layout_hidden),
          int(day_row["n"]), int(day_row["s"]), int(n_user))],
        "day_pruned boolean, bucket_pruned boolean, "
        "layout_hidden boolean, n_rows_day long, "
        "sum_event_id_day long, n_rows_user long")


ORACLE["lakehouse_hidden_partitioning"] = """
WITH d0 AS (SELECT date_trunc('day', min(ts)) AS d FROM events),
u0 AS (SELECT min(user_id) AS u FROM events, d0
       WHERE ts >= d AND ts < d + INTERVAL 8 DAY),
dr AS (SELECT count(*) AS n_rows_day,
              CAST(sum(event_id) AS BIGINT) AS sum_event_id_day
       FROM events, d0
       WHERE ts >= d AND ts < d + INTERVAL 1 DAY),
ur AS (SELECT count(*) AS n_rows_user FROM events, u0, d0
       WHERE user_id = u
         AND ts >= d AND ts < d + INTERVAL 8 DAY)
SELECT TRUE AS day_pruned, TRUE AS bucket_pruned,
       TRUE AS layout_hidden,
       n_rows_day, sum_event_id_day, n_rows_user
FROM dr, ur
"""


def lakehouse_partition_transforms(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Hidden-partitioning coverage for the THREE transform kinds the
    `lakehouse_hidden_partitioning` gate does not probe: `months`,
    `hours`, and `truncate` (both the integer-width and string-prefix
    forms). Two scenario tables, probes on SOURCE columns only:

    - orders (first 4 months, custkey < 1000) partitioned by
      ``months(o_orderdate), truncate(100, o_custkey)``: a one-month
      date range must open only that month's directories
      (`month_pruned`), a custkey equality only its floored-hundred
      directory (`trunc_int_pruned`);
    - events (first day) partitioned by
      ``hours(ts), truncate(2, event_type)``: the min-ts hour range
      opens only that hour (`hour_pruned`), an event_type equality
      only its 2-char-prefix directories (`trunc_str_pruned`).

    Flags are layout-independent (kept files checked against the
    partition values the probe implies, plus strictly-fewer-than-all)
    and the pruned reads' aggregates must equal the oracle's plain
    SQL. Reference scope: beyond-reference (Iceberg spec §Partition
    Transforms), completing the days/bucket legs of
    `lakehouse_hidden_partitioning`."""
    import datetime as dt
    tmp = tempfile.mkdtemp(prefix="luma_lh_ptrans_")
    try:
        # -- orders: months + truncate(int) -------------------------
        po = f"{tmp}/orders"
        odf = (load_table(spark, sf_dir, "orders")
               .select("o_orderkey", "o_custkey", "o_orderdate",
                       "o_totalprice")
               .filter(F.col("o_custkey") < 1000))
        m0 = odf.agg(F.min("o_orderdate")).collect()[0][0]
        m0 = m0.replace(day=1)
        # exact +4 calendar months (ADVICE r7: the old rollover
        # branch landed a September start in January of the SAME
        # year, emptying the feed — unreachable with TPC-H's
        # January-min data but latent for any other dataset)
        m_end = m0.replace(year=m0.year + (m0.month - 1 + 4) // 12,
                           month=(m0.month - 1 + 4) % 12 + 1)
        feed = odf.filter((F.col("o_orderdate") >= F.lit(m0))
                          & (F.col("o_orderdate") < F.lit(m_end)))
        LH.create_table(spark, po, feed.repartition(2), ["o_orderkey"],
                        partition_by=["months(o_orderdate)",
                                      "truncate(100, o_custkey)"])
        total_o = len(LH.snapshot_files(spark, po))
        mstr = m0.strftime("%Y-%m")
        m1 = (m0.replace(year=m0.year + 1, month=1) if m0.month == 12
              else m0.replace(month=m0.month + 1))
        keep_m = LH.pruned_candidate_files(
            spark, po, {"o_orderdate": (m0, m1 - dt.timedelta(days=1))})
        month_pruned = (bool(keep_m) and len(keep_m) < total_o
                        and all(f"o_orderdate_month={mstr}" in f
                                for f in keep_m))
        ck = int(feed.agg(F.min("o_custkey")).collect()[0][0])
        keep_c = LH.pruned_candidate_files(spark, po, None,
                                           eq={"o_custkey": ck})
        trunc_int_pruned = (bool(keep_c) and len(keep_c) < total_o
                            and all(f"o_custkey_trunc={ck - ck % 100}"
                                    in f for f in keep_c))
        mrow = (LH.read_table_pruned(spark, po, "o_orderdate", m0,
                                     m1 - dt.timedelta(days=1))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("o_totalprice"), 2).alias("s"))
                .collect()[0])
        n_ck = LH.read_table_point_lookup(spark, po,
                                          {"o_custkey": ck}).count()

        # -- events: hours + truncate(str) ---------------------------
        pe = f"{tmp}/events"
        edf = (load_table(spark, sf_dir, "events")
               .select("event_id", "event_type", "ts", "value"))
        t0 = edf.agg(F.min("ts")).collect()[0][0]
        day0 = t0.replace(hour=0, minute=0, second=0, microsecond=0)
        efeed = edf.filter((F.col("ts") >= F.lit(day0))
                           & (F.col("ts") < F.lit(
                               day0 + dt.timedelta(days=1))))
        LH.create_table(spark, pe, efeed.repartition(2), ["event_id"],
                        partition_by=["hours(ts)",
                                      "truncate(2, event_type)"])
        total_e = len(LH.snapshot_files(spark, pe))
        h0 = t0.replace(minute=0, second=0, microsecond=0)
        hstr = h0.strftime("%Y-%m-%d-%H")
        keep_h = LH.pruned_candidate_files(
            spark, pe,
            {"ts": (h0, h0 + dt.timedelta(hours=1)
                    - dt.timedelta(microseconds=1))})
        hour_pruned = (bool(keep_h) and len(keep_h) < total_e
                       and all(f"ts_hour={hstr}" in f for f in keep_h))
        et = efeed.agg(F.min("event_type")).collect()[0][0]
        keep_t = LH.pruned_candidate_files(spark, pe, None,
                                           eq={"event_type": et})
        trunc_str_pruned = (bool(keep_t) and len(keep_t) < total_e
                            and all(f"event_type_trunc={et[:2]}" in f
                                    for f in keep_t))
        hrow = (LH.read_table_pruned(
            spark, pe, "ts", h0,
            h0 + dt.timedelta(hours=1) - dt.timedelta(microseconds=1))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("s")).collect()[0])
        n_et = LH.read_table_point_lookup(spark, pe,
                                          {"event_type": et}).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark, 
        [(bool(month_pruned), bool(trunc_int_pruned),
          bool(hour_pruned), bool(trunc_str_pruned),
          int(mrow["n"]), float(mrow["s"]), int(n_ck),
          int(hrow["n"]), float(hrow["s"] or 0.0), int(n_et))],
        "month_pruned boolean, trunc_int_pruned boolean, "
        "hour_pruned boolean, trunc_str_pruned boolean, "
        "n_rows_month long, sum_price_month double, n_rows_custkey long, "
        "n_rows_hour long, sum_value_hour double, n_rows_etype long")


ORACLE["lakehouse_partition_transforms"] = """
WITH ow AS (SELECT * FROM orders WHERE o_custkey < 1000),
m0 AS (SELECT date_trunc('month', min(o_orderdate)) AS m FROM ow),
feed AS (SELECT ow.* FROM ow, m0
         WHERE o_orderdate >= m AND o_orderdate < m + INTERVAL 4 MONTH),
mr AS (SELECT count(*) AS n_rows_month,
              ROUND(sum(o_totalprice), 2) AS sum_price_month
       FROM feed, m0
       WHERE o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH),
ck AS (SELECT min(o_custkey) AS c FROM feed),
cr AS (SELECT count(*) AS n_rows_custkey FROM feed, ck
       WHERE o_custkey = c),
t0 AS (SELECT min(ts) AS t FROM events),
efeed AS (SELECT events.* FROM events, t0
          WHERE ts >= date_trunc('day', t)
            AND ts < date_trunc('day', t) + INTERVAL 1 DAY),
hr AS (SELECT count(*) AS n_rows_hour,
              COALESCE(ROUND(sum(value), 2), 0.0) AS sum_value_hour
       FROM efeed, t0
       WHERE ts >= date_trunc('hour', t)
         AND ts < date_trunc('hour', t) + INTERVAL 1 HOUR),
et AS (SELECT min(event_type) AS e FROM efeed),
er AS (SELECT count(*) AS n_rows_etype FROM efeed, et
       WHERE event_type = e)
SELECT TRUE AS month_pruned, TRUE AS trunc_int_pruned,
       TRUE AS hour_pruned, TRUE AS trunc_str_pruned,
       n_rows_month, sum_price_month, n_rows_custkey,
       n_rows_hour, sum_value_hour, n_rows_etype
FROM mr, cr, hr, er
"""


def lakehouse_partition_spec_evolution(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION (Iceberg's other half of hidden
    partitioning): generation A is written under
    ``months(o_orderdate)``, the spec evolves to
    ``truncate(100, o_custkey)`` via `set_partition_spec` (a
    metadata-only commit — `evolution_zero_rewrite` asserts every
    gen-A file path survives byte-untouched), generation B lands
    under the NEW spec, and each generation keeps pruning under the
    spec it was written with: a gen-A month probe opens only that
    month's directories and no gen-B file beyond what its stats
    allow (`old_gen_pruned`), a custkey equality opens only gen-B's
    floored-hundred directory plus stat-surviving gen-A files
    (`new_gen_pruned`). Reads stay exact across the evolution
    (oracle parity on both generations)."""
    import datetime as dt
    tmp = tempfile.mkdtemp(prefix="luma_lh_specevo_")
    try:
        path = f"{tmp}/t"
        odf = (load_table(spark, sf_dir, "orders")
               .select("o_orderkey", "o_custkey", "o_orderdate",
                       "o_totalprice")
               .filter(F.col("o_custkey") < 1000))
        m0 = odf.agg(F.min("o_orderdate")).collect()[0][0].replace(day=1)

        def plus_months(d, n):
            y, m = d.year + (d.month - 1 + n) // 12, (d.month - 1 + n) % 12 + 1
            return d.replace(year=y, month=m)

        gen_a = odf.filter((F.col("o_orderdate") >= F.lit(m0))
                           & (F.col("o_orderdate")
                              < F.lit(plus_months(m0, 2))))
        gen_b = odf.filter((F.col("o_orderdate")
                            >= F.lit(plus_months(m0, 2)))
                           & (F.col("o_orderdate")
                              < F.lit(plus_months(m0, 4))))
        LH.create_table(spark, path, gen_a.repartition(2),
                        ["o_orderkey"],
                        partition_by=["months(o_orderdate)"])
        import os as _os
        mtimes = {f: _os.path.getmtime(f)
                  for f in LH.snapshot_files(spark, path)}
        LH.set_partition_spec(spark, path, ["truncate(100, o_custkey)"])
        LH.append_table(spark, path, gen_b.repartition(2))
        evolution_zero_rewrite = all(
            _os.path.getmtime(f) == m for f, m in mtimes.items())
        total = len(LH.snapshot_files(spark, path))
        mstr = m0.strftime("%Y-%m")
        keep_m = LH.pruned_candidate_files(
            spark, path,
            {"o_orderdate": (m0, plus_months(m0, 1)
                             - dt.timedelta(days=1))})
        # gen-A: only month-0 dirs survive; gen-B files carry no month
        # key — any kept must have survived on their own date stats
        old_gen_pruned = (bool(keep_m) and len(keep_m) < total
                          and all(f"o_orderdate_month={mstr}" in f
                                  for f in keep_m
                                  if "o_orderdate_month=" in f))
        ck = int(gen_b.agg(F.min("o_custkey")).collect()[0][0])
        keep_c = LH.pruned_candidate_files(spark, path, None,
                                           eq={"o_custkey": ck})
        new_gen_pruned = (bool(keep_c) and len(keep_c) < total
                          and all(f"o_custkey_trunc={ck - ck % 100}"
                                  in f for f in keep_c
                                  if "o_custkey_trunc=" in f))
        mrow = (LH.read_table_pruned(
            spark, path, "o_orderdate", m0,
            plus_months(m0, 1) - dt.timedelta(days=1))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("s"))
            .collect()[0])
        # SAME-NAME conflict (round 8, Iceberg per-file spec-id):
        # truncate(50, o_custkey) re-declares the o_custkey_trunc
        # name with a different width; gen-C lands under it and each
        # generation keeps pruning by the transform string its
        # add-actions recorded — previously this conflict disabled
        # the name's derived pruning entirely.
        LH.set_partition_spec(spark, path, ["truncate(50, o_custkey)"])
        gen_c = odf.filter((F.col("o_orderdate")
                            >= F.lit(plus_months(m0, 4)))
                           & (F.col("o_orderdate")
                              < F.lit(plus_months(m0, 6))))
        LH.append_table(spark, path, gen_c.repartition(2))
        total2 = len(LH.snapshot_files(spark, path))
        keep_s = LH.pruned_candidate_files(spark, path, None,
                                           eq={"o_custkey": ck})
        t100, t50 = ck - ck % 100, ck - ck % 50
        by_path = {a["path"]: a for a in LH.snapshot_adds(spark, path)}
        samename_both_pruned = bool(keep_s) and len(keep_s) < total2
        for p in keep_s:
            a = by_path.get(p, {})
            sp_rec = (a.get("spec") or {}).get("o_custkey_trunc")
            pv = (a.get("partition") or {}).get("o_custkey_trunc")
            if sp_rec == "truncate(100, o_custkey)" and pv != str(t100):
                samename_both_pruned = False
            if sp_rec == "truncate(50, o_custkey)" and pv != str(t50):
                samename_both_pruned = False
        n_ck = LH.read_table_point_lookup(spark, path,
                                          {"o_custkey": ck}).count()
        n_all = LH.read_table(spark, path).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark,
        [(bool(evolution_zero_rewrite), bool(old_gen_pruned),
          bool(new_gen_pruned), bool(samename_both_pruned),
          int(mrow["n"]), float(mrow["s"]),
          int(n_ck), int(n_all))],
        "evolution_zero_rewrite boolean, old_gen_pruned boolean, "
        "new_gen_pruned boolean, samename_both_pruned boolean, "
        "n_rows_month long, "
        "sum_price_month double, n_rows_custkey long, n_rows_total long")


ORACLE["lakehouse_partition_spec_evolution"] = """
WITH ow AS (SELECT * FROM orders WHERE o_custkey < 1000),
m0 AS (SELECT date_trunc('month', min(o_orderdate)) AS m FROM ow),
feed AS (SELECT ow.* FROM ow, m0
         WHERE o_orderdate >= m AND o_orderdate < m + INTERVAL 6 MONTH),
mr AS (SELECT count(*) AS n_rows_month,
              ROUND(sum(o_totalprice), 2) AS sum_price_month
       FROM feed, m0
       WHERE o_orderdate >= m AND o_orderdate < m + INTERVAL 1 MONTH),
genb AS (SELECT feed.* FROM feed, m0
         WHERE o_orderdate >= m + INTERVAL 2 MONTH
           AND o_orderdate < m + INTERVAL 4 MONTH),
ck AS (SELECT min(o_custkey) AS c FROM genb),
cr AS (SELECT count(*) AS n_rows_custkey FROM feed, ck
       WHERE o_custkey = c),
tot AS (SELECT count(*) AS n_rows_total FROM feed)
SELECT TRUE AS evolution_zero_rewrite, TRUE AS old_gen_pruned,
       TRUE AS new_gen_pruned, TRUE AS samename_both_pruned,
       n_rows_month, sum_price_month, n_rows_custkey, n_rows_total
FROM mr, cr, tot
"""


def lakehouse_byte_optimize(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Byte-target OPTIMIZE under the gate (round 7): the write-time
    ``size_bytes`` add-action lane drives BOTH candidate selection and
    packed-file sizing (Delta/Iceberg semantics — compaction
    economics are bytes, not rows). A 12-file fragmented lineitem
    extract is packed to a budget of half its total bytes; flags:

    - ``sized_adds``: every add-action (before AND after) carries the
      lane — DESCRIBE needs zero filesystem probes;
    - ``packed_to_budget``: the output file count equals
      ceil(candidate_bytes / target) as computed from the PRE-compact
      log (here 2);
    - ``describe_consistent``: post-compact DESCRIBE's byte total
      equals the sum of the packed adds' recorded sizes (the
      zero-probe aggregate agrees with the lane);

    plus a content rollup that must be identical before/after and
    equal to the oracle's plain SQL."""
    tmp = tempfile.mkdtemp(prefix="luma_lh_byteopt_")
    try:
        path = f"{tmp}/t"
        df = (load_table(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice")
              .filter(F.col("l_orderkey") % 10 == 0))
        LH.create_table(spark, path, df.repartition(12),
                        ["l_orderkey"])
        adds0 = LH.snapshot_adds(spark, path)
        sized_before = all(a.get("size_bytes") for a in adds0)
        total_bytes = sum(a["size_bytes"] for a in adds0)
        target = total_bytes // 2 + 1
        before = (LH.read_table(spark, path)
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.round(F.sum("l_extendedprice"), 2).alias("s"))
                  .collect()[0])
        res = LH.compact(spark, path, target_file_bytes=target)
        adds1 = LH.snapshot_adds(spark, path)
        sized_adds = sized_before and all(a.get("size_bytes")
                                          for a in adds1)
        packed_to_budget = (res["n_files_compacted"] == 12
                            and res["n_files_added"] == 2
                            and len(adds1) == 2)
        d = LH.describe_table(spark, path)
        describe_consistent = (d["size_bytes"]
                               == sum(a["size_bytes"] for a in adds1))
        after = (LH.read_table(spark, path)
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.sum("l_extendedprice"), 2).alias("s"))
                 .collect()[0])
        content_stable = (before["n"] == after["n"]
                          and float(before["s"]) == float(after["s"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark, 
        [(bool(sized_adds), bool(packed_to_budget),
          bool(describe_consistent), bool(content_stable),
          int(after["n"]), float(after["s"]))],
        "sized_adds boolean, packed_to_budget boolean, "
        "describe_consistent boolean, content_stable boolean, "
        "n_rows long, sum_price double")


ORACLE["lakehouse_byte_optimize"] = """
SELECT TRUE AS sized_adds, TRUE AS packed_to_budget,
       TRUE AS describe_consistent, TRUE AS content_stable,
       count(*) AS n_rows,
       ROUND(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_orderkey % 10 = 0
"""


def stream_cdf_paced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 change-feed rate controls under the gate: a
    4-commit orders-derived source drains through
    ``max_versions_per_trigger=2`` with a simulated CRASH inside the
    second trigger (apply raised before the version was recorded →
    exactly that version redelivers, nothing duplicates), the
    ledger's watermark summary stays a contiguous
    (watermark, exceptions=∅) pair at the crash point and at the end,
    and a final full-redelivery trigger applies nothing. The mirror
    is an append-only parquet sink (idempotent because the ledger
    never redelivers a recorded version); the gate returns its end
    state next to the pacing flags, the oracle the same state as
    plain SQL."""
    tmp = tempfile.mkdtemp(prefix="luma_cdf_paced_")
    try:
        src = f"{tmp}/src"
        led = f"{tmp}/led"
        mirror = f"{tmp}/mirror"
        from ..streaming.cdf import ChangeFeedLedger, stream_changes
        base = (load_table(spark, sf_dir, "orders")
                .select("o_custkey", "o_totalprice")
                .groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
                .filter(F.col("o_custkey") <= 40))
        LH.create_table(spark, src,
                        base.filter(F.col("o_custkey") <= 10)
                        .coalesce(1), ["o_custkey"])
        for lo, hi in [(11, 20), (21, 30), (31, 40)]:
            LH.append_table(
                spark, src,
                base.filter((F.col("o_custkey") >= lo)
                            & (F.col("o_custkey") <= hi)).coalesce(1))
        crash_at = {3}

        def _apply(changes: DataFrame, version: int) -> None:
            if version in crash_at:
                crash_at.discard(version)
                raise RuntimeError("simulated crash")
            (changes.filter(F.col("_change_type")
                            .isin("insert", "update_postimage"))
             .drop("_change_type")
             .coalesce(1).write.mode("append").parquet(mirror))

        t1 = stream_changes(spark, src, _apply, led,
                            max_versions_per_trigger=2)
        crashed = False
        try:
            stream_changes(spark, src, _apply, led,
                           max_versions_per_trigger=2)
        except RuntimeError:
            crashed = True
        wm_mid = ChangeFeedLedger(spark, led).summary()
        t2 = stream_changes(spark, src, _apply, led,
                            max_versions_per_trigger=2)
        audit = stream_changes(spark, src, _apply, led)
        wm_end = ChangeFeedLedger(spark, led).summary()
        paced = (t1["versions_applied"] == [1, 2]
                 and crashed and wm_mid == (2, set())
                 and t2["versions_applied"] == [3, 4]
                 and wm_end == (4, set()))
        replay_clean = (audit["versions_applied"] == []
                        and audit["versions_skipped"] == 4)
        out = (spark.read.parquet(mirror)
               .withColumn("paced_exactly", F.lit(bool(paced)))
               .withColumn("replay_clean", F.lit(bool(replay_clean)))
               .orderBy("o_custkey"))
        rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(spark, rows, out.schema)


ORACLE["stream_cdf_paced"] = """
SELECT o_custkey,
       ROUND(sum(o_totalprice), 2) AS spend,
       TRUE AS paced_exactly, TRUE AS replay_clean
FROM orders
WHERE o_custkey <= 40
GROUP BY o_custkey
ORDER BY o_custkey
"""



def merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta's ``withSchemaEvolution()``):
    the table is created WITHOUT a ``segment`` column; a merge source
    carrying it (custkeys 11-30: 11-20 match and update, 21-30 insert)
    widens the schema as part of the merge — never-matched rows
    (custkeys 1-10, untouched files) read the new column as typed
    NULL, updates and inserts carry its values, and no file is
    rewritten for the widening itself. The merge commit RESTATES the
    widened schema as log metadata (schema-in-log, Delta metaData
    parity), so the DEFAULT read surfaces the evolved column — no
    ``merge_schema`` flag, no footer union. End state checked against
    a relational oracle; the default no-evolution path (extra source
    columns ignored) and DROP-COLUMN-name refusal are pytest-pinned
    in tests/test_lakehouse.py."""
    tmp = tempfile.mkdtemp(prefix="luma_lh_mevo_")
    try:
        path = f"{tmp}/t"
        base = (load_table(spark, sf_dir, "orders")
                .filter(F.col("o_custkey") <= 30)
                .groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 2).alias("spend")))
        LH.create_table(spark, path,
                        base.filter(F.col("o_custkey") <= 20).coalesce(2),
                        ["o_custkey"])
        src = (base.filter(F.col("o_custkey") > 10)
               .withColumn("segment",
                           F.when(F.col("o_custkey") % 2 == 0, "even")
                           .otherwise("odd")))
        LH.merge_into(spark, path, src, ["o_custkey"],
                      schema_evolution=True)
        out = (LH.read_table(spark, path)
               .select("o_custkey",
                       F.round("spend", 2).alias("spend"), "segment")
               .orderBy("o_custkey")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["merge_schema_evolution"] = """
WITH b AS (SELECT o_custkey, ROUND(sum(o_totalprice), 2) AS spend
           FROM orders WHERE o_custkey <= 30 GROUP BY 1)
SELECT o_custkey, ROUND(spend, 2) AS spend,
       CASE WHEN o_custkey > 10
            THEN (CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END)
       END AS segment
FROM b ORDER BY o_custkey
"""



def replace_where_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC predicate overwrite (Delta ``replaceWhere``) as the
    idempotent monthly backfill: a 3-month orders table partitioned by
    ``months(o_orderdate)`` has its MIDDLE month re-loaded with
    corrected prices (+1000) — one commit deletes the month and lands
    the new slice, a second identical run is a no-op end-state-wise
    (``idempotent``), and the commit touches only that month's files
    (``pruned``: carried count > 0). Out-of-predicate rows are
    refused by validation (pytest-pinned)."""
    import datetime as _dt
    tmp = tempfile.mkdtemp(prefix="luma_lh_rw_")
    try:
        path = f"{tmp}/t"
        odf = (load_table(spark, sf_dir, "orders")
               .filter(F.col("o_custkey") <= 2000)
               .select("o_orderkey", "o_custkey", "o_orderdate",
                       "o_totalprice"))
        m0 = odf.agg(F.min("o_orderdate")).collect()[0][0].replace(day=1)

        def plus_months(d, n):
            y, m = d.year + (d.month - 1 + n) // 12, (d.month - 1 + n) % 12 + 1
            return d.replace(year=y, month=m)

        m1, m2, m3 = (plus_months(m0, 1), plus_months(m0, 2),
                      plus_months(m0, 3))
        feed = odf.filter((F.col("o_orderdate") >= F.lit(m0))
                          & (F.col("o_orderdate") < F.lit(m3)))
        LH.create_table(spark, path, feed.repartition(4), ["o_orderkey"],
                        partition_by=["months(o_orderdate)"])
        in_m1 = ((F.col("o_orderdate") >= F.lit(m1))
                 & (F.col("o_orderdate") < F.lit(m2)))
        repl = (feed.filter(in_m1)
                .withColumn("o_totalprice",
                            F.round(F.col("o_totalprice") + 1000.0, 2)))
        # structured predicate: reconnaissance prunes at the FILE
        # level through the months() partition transform before any
        # footer is opened (dict ranges are inclusive; o_orderdate is
        # a DATE, so m2 - 1 day is the closed upper bound)
        pred = {"o_orderdate": (m1, m2 - _dt.timedelta(days=1))}
        st1 = LH.replace_where(spark, path, repl, pred)
        st2 = LH.replace_where(spark, path, repl, pred)  # re-run
        out = (LH.read_table(spark, path)
               .groupBy(F.date_format("o_orderdate", "yyyy-MM")
                        .alias("month"))
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.round(F.sum("o_totalprice"), 2).alias("sum_price")))
        total = (LH.read_table(spark, path)
                 .agg(F.count(F.lit(1))).collect()[0][0])
        expected = feed.count()
        idempotent = bool(total == expected
                          and st2["n_rows_changed"]
                          == st1["n_rows_inserted"])
        pruned = bool(st1["n_files_carried"] > 0
                      and st1["n_files_rewritten"] > 0)
        out = (out.withColumn("idempotent", F.lit(idempotent))
               .withColumn("pruned", F.lit(pruned))
               .orderBy("month")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def structured_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified structured pruned reads — ``read_table(where={...})``
    (round-9 verdict item 2): the same dict predicate the DML takes
    ({col: (lo, hi)} ranges + {col: value} equalities) routes an
    AD-HOC read through the log's stat/partition/Bloom lanes, so the
    scan opens only surviving files. A 3-month orders table
    partitioned by ``months(o_orderdate)`` (8 files/month, Bloom on
    ``o_orderkey``) answers (a) a month+custkey box read and (b) an
    order-key point lookup. Audited flags ride the result row:
    ``pruned`` (candidates are a strict nonempty subset of live
    files), ``cand_covers`` (every file a surviving row came from is
    in the candidate set — the prune is lossless), ``point_pruned``
    (the Bloom lane cut the point lookup below the month's file
    count). Values oracle-checked against plain SQL."""
    import datetime as _dt
    tmp = tempfile.mkdtemp(prefix="luma_lh_spr_")
    try:
        path = f"{tmp}/t"
        odf = (load_table(spark, sf_dir, "orders")
               .select("o_orderkey", "o_custkey", "o_orderdate",
                       "o_totalprice"))
        m0 = odf.agg(F.min("o_orderdate")).collect()[0][0].replace(day=1)

        def plus_months(d, n):
            y, m = d.year + (d.month - 1 + n) // 12, (d.month - 1 + n) % 12 + 1
            return d.replace(year=y, month=m)

        m1, m2, m3 = (plus_months(m0, 1), plus_months(m0, 2),
                      plus_months(m0, 3))
        feed = odf.filter((F.col("o_orderdate") >= F.lit(m0))
                          & (F.col("o_orderdate") < F.lit(m3)))
        LH.create_table(spark, path, feed.repartition(8), ["o_orderkey"],
                        partition_by=["months(o_orderdate)"],
                        bloom_cols=["o_orderkey"])
        where = {"o_orderdate": (m1, m2 - _dt.timedelta(days=1)),
                 "o_custkey": (1, 1500)}
        n_live = LH.describe_table(spark, path)["n_files"]
        cands = LH.pruned_candidate_files(
            spark, path, {c: v for c, v in where.items()})
        got = LH.read_table(spark, path, where=where)
        # file identity by basename (part-<uuid> names are unique):
        # sidesteps file:// URI-vs-path normalization
        hit_base = {r[0].rsplit("/", 1)[-1] for r in got
                    .select(F.input_file_name()).distinct().collect()}
        cand_base = {p.rsplit("/", 1)[-1] for p in cands}
        pruned = bool(0 < len(cands) < n_live)
        cand_covers = bool(hit_base <= cand_base)
        # Bloom point lookup through the SAME where= path
        probe_key = int(feed.agg(F.min("o_orderkey")).collect()[0][0])
        pt_cands = LH.pruned_candidate_files(spark, path, None,
                                             eq={"o_orderkey": probe_key})
        pt = LH.read_table(spark, path, where={"o_orderkey": probe_key})
        point_pruned = bool(len(pt_cands) < n_live
                            and pt.count() == 1)
        out = (got.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                           .alias("month"))
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
               .withColumn("pruned", F.lit(pruned))
               .withColumn("cand_covers", F.lit(cand_covers))
               .withColumn("point_pruned", F.lit(point_pruned))
               .orderBy("month")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["structured_pruned_read"] = """
WITH m0 AS (SELECT date_trunc('month', min(o_orderdate)) AS m
            FROM orders)
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       ROUND(sum(o_totalprice), 2) AS sum_price,
       TRUE AS pruned, TRUE AS cand_covers, TRUE AS point_pruned
FROM orders, m0
WHERE o_orderdate >= m + INTERVAL 1 MONTH
  AND o_orderdate <  m + INTERVAL 2 MONTH
  AND o_custkey BETWEEN 1 AND 1500
GROUP BY 1 ORDER BY 1
"""


def renamed_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename-aware data skipping (round-10 verdict lead item): stats
    and Bloom filters are recorded under the column's PHYSICAL name
    at write time, and both pruning lanes probe the rename chain's
    prior names (``_stat_alias_map``), so a metadata-only
    ``rename_column`` cannot disable skipping for the pre-rename file
    history. An orders table is OPTIMIZE-clustered on
    ``o_totalprice`` (per-file min/max stats) with a Bloom on
    ``o_custkey``, then BOTH columns are renamed; a range read on the
    new ``price`` name and a point lookup on the new ``cust`` name
    must still prune. Audited flags ride the result row: ``pruned``
    (range candidates a strict nonempty subset of live files),
    ``cand_covers`` (prune lossless), ``point_pruned`` (Bloom lane
    cut the point lookup's candidate set). Values oracle-checked
    against plain SQL."""
    tmp = tempfile.mkdtemp(prefix="luma_lh_rpr_")
    try:
        path = f"{tmp}/t"
        feed = (load_table(spark, sf_dir, "orders")
                .select("o_orderkey", "o_custkey", "o_totalprice"))
        n_rows = feed.count()
        LH.create_table(spark, path, feed.repartition(16),
                        ["o_orderkey"], bloom_cols=["o_custkey"])
        # pack into ~12 files range-clustered on o_totalprice: the
        # per-file min/max stats the renamed probe must keep using
        LH.compact(spark, path, target_rows=n_rows // 12 + 1,
                   sort_by="o_totalprice")
        LH.rename_column(spark, path, "o_totalprice", "price")
        LH.rename_column(spark, path, "o_custkey", "cust")
        n_live = LH.describe_table(spark, path)["n_files"]
        lo = float(feed.agg(F.min("o_totalprice")).collect()[0][0])
        where = {"price": (lo, round(lo + 20000.0, 2))}
        cands = LH.pruned_candidate_files(spark, path, dict(where))
        got = LH.read_table(spark, path, where=where)
        hit = {r[0].rsplit("/", 1)[-1] for r in got
               .select(F.input_file_name()).distinct().collect()}
        pruned = bool(0 < len(cands) < n_live)
        cand_covers = bool(hit <= {p.rsplit("/", 1)[-1] for p in cands})
        probe_cust = int(feed.agg(F.min("o_custkey")).collect()[0][0])
        pt_cands = LH.pruned_candidate_files(spark, path, None,
                                             eq={"cust": probe_cust})
        pt_rows = LH.read_table(spark, path,
                                where={"cust": probe_cust}).count()
        point_pruned = bool(len(pt_cands) < n_live)
        out = (got.agg(F.count(F.lit(1)).alias("n_orders"),
                       F.round(F.sum("price"), 2).alias("sum_price"))
               .withColumn("n_cust_rows", F.lit(int(pt_rows)))
               .withColumn("pruned", F.lit(pruned))
               .withColumn("cand_covers", F.lit(cand_covers))
               .withColumn("point_pruned", F.lit(point_pruned))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def analyze_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE → retroactive data skipping (round-10): an
    orders table written range-clustered on ``o_totalprice`` but with
    stats recorded only for its key cannot skip a price-box read
    (``no_skip_before`` audits that every file is opened). One
    ``analyze_table(stat_cols=..., bloom_cols=...)`` metadata commit
    — no data rewritten — and the same box read prunes
    (``pruned_after`` + ``cand_covers``) and a customer point lookup
    rides the new Bloom filters (``point_pruned``). Values
    oracle-checked against plain SQL."""
    tmp = tempfile.mkdtemp(prefix="luma_lh_apr_")
    try:
        path = f"{tmp}/t"
        feed = (load_table(spark, sf_dir, "orders")
                .select("o_orderkey", "o_custkey", "o_totalprice"))
        LH.create_table(spark, path,
                        feed.repartitionByRange(12, "o_totalprice")
                        .sortWithinPartitions("o_totalprice"),
                        ["o_orderkey"])
        n_live = LH.describe_table(spark, path)["n_files"]
        lo = float(feed.agg(F.min("o_totalprice")).collect()[0][0])
        where = {"o_totalprice": (lo, round(lo + 20000.0, 2))}
        no_skip_before = bool(
            len(LH.pruned_candidate_files(spark, path, dict(where)))
            == n_live)
        LH.analyze_table(spark, path, stat_cols=["o_totalprice"],
                         bloom_cols=["o_custkey"])
        cands = LH.pruned_candidate_files(spark, path, dict(where))
        got = LH.read_table(spark, path, where=where)
        hit = {r[0].rsplit("/", 1)[-1] for r in got
               .select(F.input_file_name()).distinct().collect()}
        pruned_after = bool(0 < len(cands) < n_live)
        cand_covers = bool(hit <= {p.rsplit("/", 1)[-1] for p in cands})
        probe_cust = int(feed.agg(F.min("o_custkey")).collect()[0][0])
        pt_cands = LH.pruned_candidate_files(
            spark, path, None, eq={"o_custkey": probe_cust})
        pt_rows = LH.read_table(
            spark, path, where={"o_custkey": probe_cust}).count()
        point_pruned = bool(len(pt_cands) < n_live)
        out = (got.agg(F.count(F.lit(1)).alias("n_orders"),
                       F.round(F.sum("o_totalprice"), 2)
                       .alias("sum_price"))
               .withColumn("n_cust_rows", F.lit(int(pt_rows)))
               .withColumn("no_skip_before", F.lit(no_skip_before))
               .withColumn("pruned_after", F.lit(pruned_after))
               .withColumn("cand_covers", F.lit(cand_covers))
               .withColumn("point_pruned", F.lit(point_pruned))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ann_index_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from a PERSISTED index (round-10): the IVF
    structure lands as a lakehouse table partitioned by coarse list
    id — build once, then every query reads ONLY the probed lists'
    files through the log's partition-value pruning (no per-query
    index rebuild, no full-corpus scan). This is the 100-TB serving
    pattern: at 10^4 lists x 10^2 files each, a nprobe=2 query opens
    ~2 x 10^2 files out of 10^6, decided driver-side from the commit
    log before any data is read. Audited flags: ``pruned`` (the two
    list reads open a strict subset of live files), ``cand_covers``
    (every file a served row came from was in the candidate sets).
    Results are oracle-checked against the exact two-probe IVF SQL
    (same contract as ann_ivf_topk)."""
    from ..operators.similarity import _as_double, centroids, cosine
    tmp = tempfile.mkdtemp(prefix="luma_lh_annidx_")
    try:
        path = f"{tmp}/ivf_index"
        emb = load_table(spark, sf_dir, "embeddings")
        # BUILD: the index is a partitioned lakehouse table — each
        # coarse list is its own partition directory, recorded in the
        # commit log as exact per-file partition values
        LH.create_table(spark, path,
                        emb.withColumnRenamed("label", "list_id"),
                        ["vec_id"], partition_by=["list_id"])
        n_live = LH.describe_table(spark, path)["n_files"]
        # SERVE step 1 — rank centroids (list-count-sized frame) and
        # pick the nprobe=2 lists; the two ids cross to the driver to
        # parameterize the pruned reads (serving-path collect of 2
        # scalars, not data)
        min_id = emb.agg(F.min("vec_id").alias("_mid"))
        q = (emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"))
             .select(F.col("embedding").alias("_qv")))
        q = _as_double(q, "_qv")
        idx = LH.read_table(spark, path)
        cents = centroids(idx, "list_id", "embedding")
        probed = [r["list_id"] for r in
                  (cents.crossJoin(F.broadcast(q))
                   .select("list_id",
                           F.round(cosine(F.col("centroid"),
                                          F.col("_qv")), 6)
                           .alias("cscore"))
                   .orderBy(F.col("cscore").desc(), "list_id")
                   .limit(2)).collect()]
        # SERVE step 2 — read ONLY the probed lists through the
        # partition-value lane; exact cosine top-k over the union
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
        out = (_as_double(nar, "embedding").crossJoin(F.broadcast(q))
               .select("vec_id",
                       F.round(cosine(F.col("embedding"),
                                      F.col("_qv")), 6).alias("score"))
               .orderBy(F.col("score").desc(), "vec_id").limit(10)
               .withColumn("pruned", F.lit(pruned))
               .withColumn("cand_covers", F.lit(cand_covers))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ann_index_incremental_upsert(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """IVF index FRESHNESS without rebuild (round-10): the index is
    built from the early half of the corpus (vec_id <= (min+max)/2),
    then the late half arrives and is assigned to its NEAREST STORED
    CENTROID (broadcast list-count frame, one narrow pass — no
    retrain, no rebuild) and appended into the right partitions of
    the index table. A query served afterwards reads only the probed
    lists' files (partition-value pruning) and sees BOTH vintages.
    This is the operational gap plain IVF leaves open at 100 TB: a
    daily embedding batch must join the serving index at append cost,
    not at index-rebuild cost. Audited: ``pruned`` / ``cand_covers``
    as in ann_index_served_topk, plus ``n_late_indexed`` (the late
    rows the maintenance pass appended). Oracle replays the identical
    assignment (argmax cosine to the early-half centroids, ties by
    list id) in SQL."""
    from ..operators.similarity import _as_double, centroids, cosine
    tmp = tempfile.mkdtemp(prefix="luma_lh_annup_")
    try:
        path = f"{tmp}/ivf_index"
        emb = load_table(spark, sf_dir, "embeddings")
        lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
        cut = (int(lo) + int(hi)) // 2
        base = (emb.filter(F.col("vec_id") <= cut)
                .withColumnRenamed("label", "list_id")
                .select("vec_id", "embedding", "list_id"))
        LH.create_table(spark, path, base, ["vec_id"],
                        partition_by=["list_id"])
        # MAINTAIN: assign the late batch to the nearest STORED
        # centroid (the trained structure is fixed; no retrain)
        cents = centroids(LH.read_table(spark, path),
                          "list_id", "embedding")
        # storage keeps the table's physical float vectors; the
        # assignment scores on a double COPY (mixed parquet element
        # types in one column would break the imposed-schema read)
        late = (emb.filter(F.col("vec_id") > cut)
                .select("vec_id", "embedding",
                        F.col("embedding").cast("array<double>")
                        .alias("_vd")))
        w = W.partitionBy("vec_id").orderBy(F.col("_cs").desc(),
                                            "list_id")
        assigned = (late.crossJoin(F.broadcast(cents))
                    .select("vec_id", "embedding", "list_id",
                            F.round(cosine(F.col("_vd"),
                                           F.col("centroid")), 6)
                            .alias("_cs"))
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select("vec_id", "embedding", "list_id"))
        n_late = assigned.count()
        LH.append_table(spark, path, assigned)
        n_live = LH.describe_table(spark, path)["n_files"]
        # SERVE: probe 2 lists by the stored centroids, pruned reads
        min_id = emb.agg(F.min("vec_id").alias("_mid"))
        q = _as_double(
            emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"))
            .select(F.col("embedding").alias("_qv")), "_qv")
        probed = [r["list_id"] for r in
                  (cents.crossJoin(F.broadcast(q))
                   .select("list_id",
                           F.round(cosine(F.col("centroid"),
                                          F.col("_qv")), 6)
                           .alias("cscore"))
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
        out = (_as_double(nar, "embedding").crossJoin(F.broadcast(q))
               .select("vec_id",
                       F.round(cosine(F.col("embedding"),
                                      F.col("_qv")), 6).alias("score"))
               .orderBy(F.col("score").desc(), "vec_id").limit(10)
               .withColumn("n_late_indexed", F.lit(int(n_late)))
               .withColumn("pruned", F.lit(pruned))
               .withColumn("cand_covers", F.lit(cand_covers))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ann_index_rebalance_served(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """IVF index REBALANCE (round-11): sustained drifted appends pile
    the whole late half of the corpus into one hot list — the exact
    failure mode plain nearest-stored-centroid upserts leave open.
    The log-only skew audit detects it (zero data reads), the
    maintenance planner recommends ``rebalance``
    (``operators/ivf_index.py``), and ``rebalance_lists`` splits the
    hot list by a deterministic local 2-means (seeds = min/max-id
    members, one cosine pass) rewriting ONLY that list's partition —
    every other list's files carry by reference. A query served
    afterwards probes the NEW, tighter lists through partition-value
    pruning. Audited flags: ``planned`` (the planner recommended it),
    ``improved`` (max list rows strictly shrank — both replayed as
    exact integers ``n_max_before``/``n_max_after`` by the oracle),
    ``untouched`` (unsplit lists' file sets are byte-identical),
    ``pruned``/``cand_covers`` (as in ann_index_served_topk).
    Reference anchor: nightly maintenance scheduling,
    schedule_jobs.ps1:13-32, applied to index-shape debt."""
    from ..operators import ivf_index as IVF
    from ..operators.similarity import _as_double, centroids, cosine
    tmp = tempfile.mkdtemp(prefix="luma_lh_annrb_")
    try:
        path = f"{tmp}/ivf_index"
        emb = load_table(spark, sf_dir, "embeddings")
        lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
        cut = (int(lo) + int(hi)) // 2
        early = (emb.filter(F.col("vec_id") <= cut)
                 .select("vec_id", "embedding",
                         F.col("label").alias("list_id")))
        LH.create_table(spark, path, early, ["vec_id"],
                        partition_by=["list_id"])
        hot = int(early.groupBy("list_id").count()
                  .orderBy(F.col("count").desc(), "list_id")
                  .first()["list_id"])
        late = (emb.filter(F.col("vec_id") > cut)
                .select("vec_id", "embedding",
                        F.lit(hot).cast("int").alias("list_id")))
        LH.append_table(spark, path, late)
        # DETECT + PLAN: both from the commit log only
        plan = IVF.index_maintenance_plan(spark, path,
                                          skew_threshold=3.0,
                                          keep_last=50)
        planned = "rebalance" in plan["actions"]
        by_list_before: dict[int, set] = {}
        for a in LH.snapshot_adds(spark, path):
            by_list_before.setdefault(
                int(str(a["partition"]["list_id"])), set()).add(a["path"])
        # REBALANCE: one deterministic round (the oracle replays it)
        rep = IVF.rebalance_lists(spark, path, skew_threshold=3.0,
                                  max_rounds=1)
        improved = bool(rep["max_rows_after"] < rep["max_rows_before"])
        by_list_after: dict[int, set] = {}
        for a in LH.snapshot_adds(spark, path):
            by_list_after.setdefault(
                int(str(a["partition"]["list_id"])), set()).add(a["path"])
        untouched = all(
            by_list_after.get(lid) == files
            for lid, files in by_list_before.items()
            if lid not in set(rep["split_lists"]))
        # SERVE: probe 2 lists by the post-rebalance stored centroids
        n_live = LH.describe_table(spark, path)["n_files"]
        min_id = emb.agg(F.min("vec_id").alias("_mid"))
        q = _as_double(
            emb.join(F.broadcast(min_id),
                     F.col("vec_id") == F.col("_mid"))
            .select(F.col("embedding").alias("_qv")), "_qv")
        cents = centroids(LH.read_table(spark, path),
                          "list_id", "embedding")
        probed = [r["list_id"] for r in
                  (cents.crossJoin(F.broadcast(q))
                   .select("list_id",
                           F.round(cosine(F.col("centroid"),
                                          F.col("_qv")), 6)
                           .alias("cscore"))
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
        out = (_as_double(nar, "embedding").crossJoin(F.broadcast(q))
               .select("vec_id",
                       F.round(cosine(F.col("embedding"),
                                      F.col("_qv")), 6).alias("score"))
               .orderBy(F.col("score").desc(), "vec_id").limit(10)
               .withColumn("n_max_before",
                           F.lit(int(rep["max_rows_before"])))
               .withColumn("n_max_after",
                           F.lit(int(rep["max_rows_after"])))
               .withColumn("planned", F.lit(planned))
               .withColumn("improved", F.lit(improved))
               .withColumn("untouched", F.lit(untouched))
               .withColumn("pruned", F.lit(pruned))
               .withColumn("cand_covers", F.lit(cand_covers))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


ORACLE["ann_index_rebalance_served"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
cut AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS c FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
hot AS (SELECT label AS h FROM e, cut WHERE vec_id <= c
        GROUP BY label ORDER BY count(*) DESC, label LIMIT 1),
idx AS (SELECT vec_id, label AS list_id, v FROM e, cut
        WHERE vec_id <= c
        UNION ALL
        SELECT e.vec_id, h.h, e.v FROM e, cut, hot h
        WHERE e.vec_id > c),
nmaxb AS (SELECT max(cnt) AS m FROM (
            SELECT count(*) AS cnt FROM idx GROUP BY list_id)),
hotm AS (SELECT vec_id, v FROM idx, hot WHERE list_id = h),
sb AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM hotm),
seeds AS (SELECT 0 AS sidx, v AS sv FROM hotm, sb WHERE vec_id = lo
          UNION ALL
          SELECT 1, v FROM hotm, sb WHERE vec_id = hi),
asg AS (SELECT vec_id, sidx FROM (
          SELECT m.vec_id, s.sidx,
                 row_number() OVER (
                   PARTITION BY m.vec_id
                   ORDER BY round(list_dot_product(m.v, s.sv)
                                  / (sqrt(list_dot_product(m.v, m.v))
                                     * sqrt(list_dot_product(s.sv,
                                                             s.sv))),
                            6) DESC, s.sidx) AS rn
          FROM hotm m CROSS JOIN seeds s) WHERE rn = 1),
nid AS (SELECT max(list_id) + 1 AS n FROM idx),
idx2 AS (SELECT i.vec_id,
                CASE WHEN a.sidx = 1 THEN (SELECT n FROM nid)
                     ELSE i.list_id END AS list_id,
                i.v
         FROM idx i LEFT JOIN asg a USING (vec_id)),
nmaxa AS (SELECT max(cnt) AS m FROM (
            SELECT count(*) AS cnt FROM idx2 GROUP BY list_id)),
cent AS (SELECT list_id, list(m ORDER BY i) AS cv
         FROM (SELECT list_id, i, avg(v[i]) AS m
               FROM idx2, generate_series(1, 64) t(i)
               GROUP BY 1, 2)
         GROUP BY list_id),
probe AS (SELECT list_id
          FROM cent, q
          ORDER BY round(list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv))), 6)
                   DESC, list_id
          LIMIT 2)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(qv, qv))), 6) AS score,
       CAST(nmaxb.m AS INT) AS n_max_before,
       CAST(nmaxa.m AS INT) AS n_max_after,
       TRUE AS planned, TRUE AS improved, TRUE AS untouched,
       TRUE AS pruned, TRUE AS cand_covers
FROM idx2 JOIN probe USING (list_id), q, nmaxb, nmaxa
ORDER BY score DESC, vec_id
LIMIT 10
"""


ORACLE["ann_index_incremental_upsert"] = """
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
       CAST(nl.n_late AS INT) AS n_late_indexed,
       TRUE AS pruned, TRUE AS cand_covers
FROM served, q, nl
ORDER BY score DESC, vec_id
LIMIT 10
"""


ORACLE["ann_index_served_topk"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
cent AS (SELECT label, list(m ORDER BY i) AS c
         FROM (SELECT label, i, avg(v[i]) AS m
               FROM e, generate_series(1, 64) t(i) GROUP BY 1, 2)
         GROUP BY label),
probe AS (SELECT label
          FROM cent, q
          ORDER BY round(list_dot_product(c, qv)
                         / (sqrt(list_dot_product(c, c))
                            * sqrt(list_dot_product(qv, qv))), 6)
                   DESC, label
          LIMIT 2)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(qv, qv))), 6) AS score,
       TRUE AS pruned, TRUE AS cand_covers
FROM e JOIN probe USING (label), q
ORDER BY score DESC, vec_id
LIMIT 10
"""


ORACLE["analyze_pruned_read"] = """
WITH lo AS (SELECT min(o_totalprice) AS lo FROM orders),
pc AS (SELECT min(o_custkey) AS c FROM orders)
SELECT count(*) AS n_orders,
       ROUND(sum(o_totalprice), 2) AS sum_price,
       (SELECT count(*) FROM orders, pc WHERE o_custkey = c)
         AS n_cust_rows,
       TRUE AS no_skip_before, TRUE AS pruned_after,
       TRUE AS cand_covers, TRUE AS point_pruned
FROM orders, lo
WHERE o_totalprice BETWEEN lo AND ROUND(lo + 20000.0, 2)
"""


ORACLE["renamed_pruned_read"] = """
WITH lo AS (SELECT min(o_totalprice) AS lo FROM orders),
pc AS (SELECT min(o_custkey) AS c FROM orders)
SELECT count(*) AS n_orders,
       ROUND(sum(o_totalprice), 2) AS sum_price,
       (SELECT count(*) FROM orders, pc WHERE o_custkey = c)
         AS n_cust_rows,
       TRUE AS pruned, TRUE AS cand_covers, TRUE AS point_pruned
FROM orders, lo
WHERE o_totalprice BETWEEN lo AND ROUND(lo + 20000.0, 2)
"""


ORACLE["replace_where_backfill"] = """
WITH ow AS (SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
            WHERE o_custkey <= 2000),
m0 AS (SELECT date_trunc('month', min(o_orderdate)) AS m FROM ow),
feed AS (SELECT ow.*,
                CASE WHEN o_orderdate >= m + INTERVAL 1 MONTH
                      AND o_orderdate <  m + INTERVAL 2 MONTH
                     THEN ROUND(o_totalprice + 1000.0, 2)
                     ELSE o_totalprice END AS adj
         FROM ow, m0
         WHERE o_orderdate >= m AND o_orderdate < m + INTERVAL 3 MONTH)
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       ROUND(sum(adj), 2) AS sum_price,
       TRUE AS idempotent, TRUE AS pruned
FROM feed GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "lakehouse_hidden_partitioning": lakehouse_hidden_partitioning,
    "lakehouse_partition_transforms": lakehouse_partition_transforms,
    "lakehouse_partition_spec_evolution": lakehouse_partition_spec_evolution,
    "lakehouse_byte_optimize": lakehouse_byte_optimize,
    "stream_cdf_paced": stream_cdf_paced,
    "merge_upsert_orders": merge_upsert_orders,
    "merge_schema_evolution": merge_schema_evolution,
    "replace_where_backfill": replace_where_backfill,
    "structured_pruned_read": structured_pruned_read,
    "renamed_pruned_read": renamed_pruned_read,
    "analyze_pruned_read": analyze_pruned_read,
    "ann_index_served_topk": ann_index_served_topk,
    "ann_index_incremental_upsert": ann_index_incremental_upsert,
    "ann_index_rebalance_served": ann_index_rebalance_served,
    "lakehouse_time_travel": lakehouse_time_travel,
    "lakehouse_compaction": lakehouse_compaction,
    "lakehouse_change_feed": lakehouse_change_feed,
    "lakehouse_incremental_mv": lakehouse_incremental_mv,
    "zorder_locality_stats": zorder_locality_stats,
    "lakehouse_gdpr_erasure": lakehouse_gdpr_erasure,
    "lakehouse_expiration_audit": lakehouse_expiration_audit,
    "lakehouse_wap_audit": lakehouse_wap_audit,
    "lakehouse_multi_table_txn": lakehouse_multi_table_txn,
    "lakehouse_zorder_box_read": lakehouse_zorder_box_read,
    "lakehouse_bloom_point_lookup": lakehouse_bloom_point_lookup,
    "lakehouse_dml_roundtrip": lakehouse_dml_roundtrip,
    "lakehouse_partition_pruned_read": lakehouse_partition_pruned_read,
    "lakehouse_timestamp_travel": lakehouse_timestamp_travel,
    "lakehouse_check_constraints": lakehouse_check_constraints,
    "lakehouse_convert_in_place": lakehouse_convert_in_place,
    "lakehouse_rename_column": lakehouse_rename_column,
    "lakehouse_mor_delete": lakehouse_mor_delete,
    "lakehouse_mor_update": lakehouse_mor_update,
    "lakehouse_mor_merge": lakehouse_mor_merge,
    "lakehouse_parquet_checkpoint": lakehouse_parquet_checkpoint,
    "lakehouse_restore_across_mor": lakehouse_restore_across_mor,
    "lakehouse_dv_auto_maintenance": lakehouse_dv_auto_maintenance,
    "lakehouse_shallow_clone": lakehouse_shallow_clone,
    "lakehouse_scoped_optimize": lakehouse_scoped_optimize,
}
