"""Physical data layout for scan pruning at scale.

``write_partitioned``: hive-style partition columns → partition
pruning (a filter on the partition column never opens non-matching
directories).

``write_range_layout``: range-repartition + in-partition sort on a
column → every parquet file covers a narrow value range, so row-group
min/max statistics prune file contents even without hive partitions
(the poor man's Z-order for a single dimension — the right layout for
time-series fact tables queried by time range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import fileio


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_range_layout(df: DataFrame, path: str, order_col: str,
                       n_files: int = 8, mode: str = "overwrite") -> None:
    (df.repartitionByRange(n_files, F.col(order_col))
       .sortWithinPartitions(order_col)
       .write.mode(mode).parquet(path))


def morton_key_n(cols: list, bits: int = 16):
    """Z-order (Morton) interleaving of N bucketed integer columns:
    bit i of column j lands at key position ``i*N + j``, so sorting
    by the key clusters rows that are close in EVERY dimension —
    range-layout by the key gives file-level min/max pruning for
    predicates on ANY of the columns. ``bits × N`` must fit a signed
    64-bit key (≤ 63); at the default 16 bits that is up to 3
    dimensions — pass a smaller ``bits`` for more (Delta's OPTIMIZE
    ZORDER makes the same resolution-per-dimension trade)."""
    k = len(cols)
    if k < 1:
        raise ValueError("morton_key_n: need at least one column")
    if bits * k > 63:
        raise ValueError(
            f"morton_key_n: {bits} bits x {k} columns exceeds a 64-bit "
            f"key; use bits <= {63 // k}")
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            b = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            key = key + (b.cast("long")
                         * F.lit(2 ** (i * k + j)).cast("long"))
    return key


def morton_key(c1, c2, bits: int = 16):
    """Two-column Z-order interleave — bit i of each input lands at
    position 2i / 2i+1 of the key (the N=2 case of
    :func:`morton_key_n`, kept for the existing call sites and the
    hash-gated zorder_locality_stats oracle)."""
    return morton_key_n([c1, c2], bits)


def write_zorder_layout(df: DataFrame, path: str, col1: str, col2: str,
                        n_files: int = 8, bits: int = 16,
                        mode: str = "overwrite") -> None:
    keyed = df.withColumn("_z", morton_key(F.col(col1), F.col(col2), bits))
    (keyed.repartitionByRange(n_files, F.col("_z"))
          .sortWithinPartitions("_z")
          .drop("_z")
          .write.mode(mode).parquet(path))


# ---------------------------------------------------------------------------
# small-file compaction — the other half of the layout story at scale:
# streaming/incremental appends fragment a table into thousands of tiny
# files, and every downstream scan then pays per-file open/footer costs
# and loses row-group statistics leverage.
# ---------------------------------------------------------------------------

def data_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path`` (recursive), counting
    only data files (skips _SUCCESS/_metadata and hidden files)."""
    n = total = 0
    for e in fileio.file_io(spark, path).walk_files(path):
        if not e.name.rsplit("/", 1)[-1].startswith(("_", ".")):
            n += 1
            total += e.size
    return n, total


def compact_small_files(spark: SparkSession, path: str,
                        target_file_bytes: int = 128 * 1024 * 1024,
                        partition_depth: int = 0) -> dict:
    """Coalesce a fragmented parquet table into ~``target_file_bytes``
    files, in place, via the staged-write + rename swap (the live
    table is never cleared before its replacement is durable).

    ``partition_depth`` > 0 treats ``path`` as a hive-partitioned tree
    that deep (e.g. 1 for ``dt=...``) and compacts EACH PARTITION
    INDEPENDENTLY, skipping partitions already at their target file
    count — the 100-TB path: a nightly compaction touches only the
    partitions today's stream fragmented, not the whole table, and
    each partition's rewrite is a narrow ``coalesce`` (no shuffle —
    file-count reduction doesn't need row movement; use
    ``write_range_layout`` instead when re-sorting is the goal).

    Returns ``{"partitions_seen", "partitions_compacted",
    "files_before", "files_after"}``.

    Reference parity: the reference splits oversized ingest files for
    its loader (``utilities/splitfile.py:5-34``, SURVEY §2 O7); this
    is the inverse dial — same knob (bytes per file), opposite
    fragmentation direction — that Spark pipelines additionally need
    because micro-batches append many small files.
    """
    from ..plans.transform import _partition_dirs, _swap_dir
    io = fileio.file_io(spark, path)
    parts = ([""] if partition_depth == 0 else
             _partition_dirs(io, path, partition_depth))
    report = {"partitions_seen": len(parts), "partitions_compacted": 0,
              "files_before": 0, "files_after": 0}
    for rel in parts:
        sub = path.rstrip("/") + (f"/{rel}" if rel else "")
        n_files, total = data_file_stats(spark, sub)
        want = max(1, -(-total // target_file_bytes))  # ceil div
        report["files_before"] += n_files
        if n_files <= want:
            report["files_after"] += n_files
            continue
        staged = sub.rstrip("/") + "__compact_" + __import__("uuid").uuid4().hex[:8]
        spark.read.parquet(sub).coalesce(int(want)).write.parquet(staged)
        _swap_dir(io, sub, staged)
        report["partitions_compacted"] += 1
        report["files_after"] += data_file_stats(spark, sub)[0]
    return report
