"""Fuzzy (edit-distance) matching with blocking — entity resolution
for name-like columns.

A naive all-pairs levenshtein is O(n²·L²); ``fuzzy_pairs`` blocks on
(prefix, length band): only pairs sharing the first ``prefix_len``
characters and within ``max_distance`` of each other's length can be
within the distance threshold anyway (every edit changes length by at
most 1 — the length filter is exact, the prefix block is the recall/
cost dial). The result is an equi-join on the block key + a cheap
post-filter, the same inverted-index shape as the shingle dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.partitioning import spread as _spread


def fuzzy_pairs(df: DataFrame, text_col: str, id_col: str,
                max_distance: int = 2, prefix_len: int = 3) -> DataFrame:
    """Pairs (id_a < id_b) whose values are within ``max_distance``
    edits, candidates blocked by shared prefix. Recall note: a pair
    whose edits fall inside the first ``prefix_len`` characters is
    missed — shrink prefix_len (cost ↑) or run a second pass on a
    suffix block for higher recall."""
    base = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_blk"),
        F.length(F.col(text_col)).alias("_len"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk"))
               & (F.col("a._id") < F.col("b._id"))
               & (F.abs(F.col("a._len") - F.col("b._len")) <= max_distance))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.levenshtein(F.col("a._txt"), F.col("b._txt")).alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )

