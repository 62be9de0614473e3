"""Portable cardinality sketches (KMV / bottom-k).

The engine already exposes Spark's native sketches
(``approx_count_distinct`` HLL++, ``approx_percentile`` — see
``plans/extras.py``), but their internal state is engine-specific, so
those queries can only be rows-checked, never hash-verified against an
independent oracle.  This module adds the classic **K-Minimum-Values
sketch** (Bar-Yossef et al. 2002) built on the repo's portable md5
hash: every engine that evaluates md5 identically produces the *same*
sketch and therefore the *same* estimate — an approximate-distinct
operator that is still bit-for-bit verifiable in DuckDB.

Why KMV is the right sketch for a 100-TB pipeline:

- **Fixed-size mergeable state.** A group's sketch is its ``k``
  smallest distinct hash values; the union of two sketches is the
  bottom-``k`` of the concatenation.  Per-partition partial sketches
  combine associatively, and cross-dataset union estimates come from
  merging stored sketches without touching raw data.
- **Shuffle bound.**  The implementation below dedups (group, hash)
  pairs with a ``groupBy`` — map-side partial aggregation bounds the
  shuffle by the number of *distinct* values per partition, the same
  cost profile as ``countDistinct``, and the subsequent per-group
  top-k is a WindowGroupLimit (rank filter) that Spark pushes before
  the final sort at every shuffle side.
- **Error.**  Relative standard error ≈ 1/sqrt(k-2); k=64 → ~13 %,
  k=256 → ~6 %.  The estimator is the unbiased (k-1)/U_(k) form with
  U_(k) the k-th smallest hash normalized to (0, 1].

Reference scope note: the reference platform has no sketches at all
(`SURVEY.md §2.4` "(absent)" row); this is beyond-reference surface
mandated by the task brief's scale family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import portable_hash32

# portable_hash32 yields values in [0, 2^32); normalize by 2^32 so the
# k-th min maps to U_(k) in (0, 1].
_HASH_SPACE = float(2**32)


def kmv_sketch(df: DataFrame, group_col: str, value_col: str,
               k: int = 64) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct portable
    hashes of ``value_col``.  Returns (group_col, _h) with ≤ k rows
    per group — the sketch rows themselves, suitable for storage or
    merging with :func:`kmv_union`."""
    dedup = (df.select(group_col,
                       portable_hash32(F.col(value_col)).alias("_h"))
             .distinct())
    win = W.partitionBy(group_col).orderBy("_h")
    return (dedup.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k)
            .drop("_rn"))


def kmv_union(*sketches: DataFrame, group_col: str | None = None,
              group_expr=None, k: int = 64) -> DataFrame:
    """Merge sketches (union semantics): bottom-``k`` of the combined
    distinct hash sets.  ``group_expr`` optionally re-labels groups
    before merging (e.g. ``F.lit('__all__')`` collapses every group
    into one union sketch).

    ``group_col`` names the group column explicitly; when omitted it
    is inferred as *the* non-``_h`` column, and any frame that is not
    exactly (group, ``_h``) — in either order — is rejected rather
    than silently merged on the wrong key."""
    from functools import reduce
    merged = reduce(DataFrame.unionByName, sketches)
    if group_col is not None:
        if group_col not in merged.columns:
            raise ValueError(
                f"kmv_union: group_col {group_col!r} not in sketch "
                f"columns {merged.columns}")
        gcol = group_col
    else:
        others = [c for c in merged.columns if c != "_h"]
        if "_h" not in merged.columns or len(others) != 1:
            raise ValueError(
                "kmv_union: sketch frames must have exactly the "
                f"columns (group, '_h'); got {merged.columns} — pass "
                "group_col= to disambiguate")
        gcol = others[0]
    if group_expr is not None:
        merged = merged.select(group_expr.alias(gcol), "_h")
    merged = merged.distinct()
    win = W.partitionBy(gcol).orderBy("_h")
    return (merged.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k)
            .drop("_rn"))


def bottomk_sample(df: DataFrame, key_col: str, k: int = 1024,
                   seed: int = 0) -> DataFrame:
    """Deterministic uniform sample: the ``k`` rows whose key hashes
    smallest.  The hash is uniform on [0, 2^32), so this is a simple
    random sample of size k — but unlike ``df.sample`` it is
    reproducible across engines/partitionings AND mergeable (the
    bottom-k of a union is the bottom-k of the per-part bottom-ks),
    which makes it the sampling half of the KMV family: store per-
    partition bottom-k, merge for any ad-hoc estimate.  Quantiles of
    the sample approximate data quantiles with error O(1/sqrt(k)).

    Plan: sort-limit compiles to TakeOrderedAndProject — per-partition
    top-k then a k·P merge; no full sort, no full shuffle, no single-
    partition window."""
    h = portable_hash32(F.col(key_col), seed)
    return (df.withColumn("_h", h)
            .orderBy(F.col("_h").asc(), F.col(key_col).asc())
            .limit(k)
            .drop("_h"))


def bloom_lanes(df: DataFrame, key_col: str, m_bits: int = 65536,
                k_hashes: int = 3) -> DataFrame:
    """Build a portable Bloom filter over ``key_col`` as (lane, bits)
    rows: ``m_bits`` bit positions packed into 64-bit BIGINT lanes,
    bit positions derived from the portable md5 hash under
    ``k_hashes`` seeds — every engine that evaluates md5 identically
    builds the *same* filter, so downstream pruning decisions (and
    their false positives) are bit-for-bit reproducible.

    Build plan: explode keys × seeds (narrow), groupBy lane with
    ``bit_or`` (map-side combinable) — at most ``m_bits/64`` output
    rows regardless of input size; broadcast it to probe.
    """
    seeds = F.explode(F.array(*[F.lit(s) for s in range(k_hashes)])).alias("_s")
    pos = portable_hash32(F.col(key_col), F.col("_s")) % m_bits
    # explicit floor — Spark's double→long cast truncates while SQL
    # engines' CAST may round, so the oracle states floor() too
    lanes = (df.select(F.col(key_col), seeds)
             .select(pos.alias("_pos"))
             .select(F.expr("CAST(floor(_pos / 64) AS BIGINT)").alias("lane"),
                     F.expr("shiftleft(CAST(1 AS BIGINT),"
                            " CAST(_pos % 64 AS INT))").alias("_bit"))
             .groupBy("lane").agg(F.bit_or("_bit").alias("bits")))
    return lanes


def bloom_might_contain(df: DataFrame, key_col: str, lanes: DataFrame,
                        m_bits: int = 65536, k_hashes: int = 3) -> DataFrame:
    """Filter ``df`` to rows whose key passes the Bloom filter (all
    ``k_hashes`` bits set).  The ≤ m/64 lane rows collapse into ONE
    broadcast map (lane → bits); each probe row evaluates its k bit
    tests as pure column expressions against that map — a map-only
    filter: no explode, no groupBy, no shuffle or re-keying of the
    probed side, and no synthetic row ids (which would not survive
    recomputation).

    This is the pre-join pruning pattern: at 100 TB, probing a KB-
    sized broadcast filter before a shuffle join drops the shuffled
    volume to matches + the filter's false positives.
    """
    bitmap = lanes.agg(
        F.map_from_entries(F.collect_list(F.struct("lane", "bits")))
        .alias("_bm"))
    out = df.crossJoin(F.broadcast(bitmap))
    cond = F.lit(True)
    helper_cols = []
    for s in range(k_hashes):
        pos = portable_hash32(F.col(key_col), s) % m_bits
        out = (out
               .withColumn(f"_p{s}", pos)
               .withColumn(f"_l{s}", F.expr(f"CAST(floor(_p{s} / 64) AS BIGINT)"))
               .withColumn(f"_b{s}", (F.col(f"_p{s}") % 64).cast("int")))
        hit = F.expr(
            f"coalesce(shiftright(element_at(_bm, _l{s}), _b{s}) & 1, 0) = 1")
        cond = cond & hit
        helper_cols += [f"_p{s}", f"_l{s}", f"_b{s}"]
    return out.filter(cond).drop("_bm", *helper_cols)


def kmv_estimate(sketch: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Distinct-count estimate from a sketch: exact count when the
    group has fewer than ``k`` distinct hashes (the sketch IS the
    value set), else ``(k-1) / U_(k)`` with ``U_(k) = kth_hash/2^32``.

    Returns (group_col, n_sketch, est_distinct) — ``est_distinct``
    rounded to 4 so the double division is comparison-stable."""
    agg = (sketch.groupBy(group_col)
           .agg(F.max("_h").alias("_kth"), F.count(F.lit(1)).alias("n_sketch")))
    est = (F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double"))
           .otherwise(F.lit(float(k - 1)) * F.lit(_HASH_SPACE)
                      / F.col("_kth").cast("double")))
    # symmetric scaled rounding (round(x*1e4)/1e4, mirrored in the
    # oracle) — the KMV estimate is an int/int rational, the
    # engine-divergent round(x, k) half-way class
    return agg.select(group_col, "n_sketch",
                      (F.round(est * F.lit(10_000.0))
                       / F.lit(10_000.0)).alias("est_distinct"))


def kmv_pair_jaccard(sketch: DataFrame, group_col: str,
                     k: int = 64) -> DataFrame:
    """Pairwise set-operation estimates from stored KMV sketches —
    the classic KMV intersection estimator (Beyer et al., SIGMOD'07):
    for groups a < b, merge their sketches into the union's bottom-k;
    the fraction of union-sketch hashes present in BOTH input sketches
    estimates the Jaccard similarity, and est_inter = jaccard x
    est_union.

    This is the whole point of keeping sketches around at 100 TB: the
    input here is the (group x k)-row sketch table, NEVER the raw
    data, so any ad-hoc overlap question costs O(groups^2 x k) on
    rows that fit in one executor — every join below is a broadcast.

    Returns (g_a, g_b, n_union_sketch, n_both, est_union, est_jaccard)
    with g_a < g_b; doubles rounded to 4/6 dp for comparison
    stability."""
    g, ga, gb = group_col, "g_a", "g_b"
    sk = sketch.select(F.col(g).alias("_g"), "_h")
    groups = sk.select("_g").distinct()
    pairs = (groups.select(F.col("_g").alias(ga))
             .join(F.broadcast(groups.select(F.col("_g").alias(gb))),
                   F.col(ga) < F.col(gb)))
    # every hash of either side's sketch, tagged per pair
    pair_h = (pairs.join(F.broadcast(sk),
                         (F.col("_g") == F.col(ga)) | (F.col("_g") == F.col(gb)))
              .select(ga, gb, "_h").distinct())
    win = W.partitionBy(ga, gb).orderBy("_h")
    union_sk = (pair_h.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") <= k).drop("_rn"))
    both = (sk.alias("x").join(F.broadcast(sk.alias("y")), "_h")
            .filter(F.col("x._g") < F.col("y._g"))
            .select(F.col("x._g").alias(ga), F.col("y._g").alias(gb),
                    "_h", F.lit(1).alias("_in_both")))
    marked = union_sk.join(F.broadcast(both), [ga, gb, "_h"], "left")
    agg = (marked.groupBy(ga, gb)
           .agg(F.max("_h").alias("_kth"),
                F.count(F.lit(1)).alias("n_union_sketch"),
                F.count("_in_both").alias("n_both")))
    est_union = (F.when(F.col("n_union_sketch") < k,
                        F.col("n_union_sketch").cast("double"))
                 .otherwise(F.lit(float(k - 1)) * F.lit(_HASH_SPACE)
                            / F.col("_kth").cast("double")))
    return agg.select(
        ga, gb, "n_union_sketch", "n_both",
        (F.round(est_union * F.lit(10_000.0))
         / F.lit(10_000.0)).alias("est_union"),
        (F.round(F.col("n_both").cast("double")
                 / F.col("n_union_sketch").cast("double")
                 * F.lit(1_000_000.0))
         / F.lit(1_000_000.0)).alias("est_jaccard"))


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — portable md5 lanes
# ---------------------------------------------------------------------------

def cms_lanes(df: DataFrame, key_col: str,
              depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-min sketch of occurrence counts of ``key_col``:
    ``depth`` independent hash rows × ``width`` counters, returned as
    a DataFrame ``(_row, _bucket, _cnt)`` with at most depth×width
    rows regardless of input size.

    Scale design: the per-row bucket is a narrow map expression; the
    only shuffle groups on (row, bucket) — at most depth×width
    distinct keys, so map-side partial aggregation collapses each
    input partition to ≤ depth×width rows before the exchange. The
    sketch is mergeable (counter-wise sum), making it the standing
    heavy-hitter / frequency monitor for a 100-TB stream: state is
    KB-sized and the update path never touches the driver.

    Portable: bucket = portable md5 hash (seed=row index) mod width —
    DuckDB computes the identical sketch, so even the *estimates*
    (biased high, never low) hash-match an independent oracle.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("_row")
    keyed = df.select(F.col(key_col).cast("string").alias("_k")).select("_k", rows)
    bucket = F.pmod(portable_hash32(F.col("_k"), seed=F.col("_row")), F.lit(width))
    return (keyed.select("_row", bucket.alias("_bucket"))
            .groupBy("_row", "_bucket")
            .agg(F.count(F.lit(1)).alias("_cnt")))


def cms_estimate(lanes: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: the estimate
    is the MIN over the ``depth`` rows of the addressed counters
    (one-sided error: estimate ≥ true count, overshoot bounded by
    e·N/width with probability 1 − e^−depth).

    The sketch is tiny (≤ depth×width rows) and broadcast; the probe
    is a narrow map + broadcast join + groupBy(key) with depth rows
    per key — no corpus-sized shuffle.
    """
    probes = (keys.select(F.col(key_col).cast("string").alias("_k"))
              .distinct()
              .select("_k", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                      .alias("_row")))
    bucket = F.pmod(portable_hash32(F.col("_k"), seed=F.col("_row")), F.lit(width))
    probes = probes.withColumn("_bucket", bucket)
    joined = probes.join(F.broadcast(lanes), ["_row", "_bucket"], "left")
    return (joined.groupBy("_k")
            .agg(F.min(F.coalesce(F.col("_cnt"), F.lit(0))).alias("cms_est"))
            .withColumnRenamed("_k", key_col))


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007) — md5 registers
# ---------------------------------------------------------------------------

# m = 256 registers (p = 8 bucket bits); rho is derived from a 52-bit
# suffix (13 md5 hex chars), so registers are capped at 53.
HLL_M = 256
_HLL_RHO_BITS = 52


def hll_sketch(df: DataFrame, group_col: str, value_col: str,
               seed: int = 0) -> DataFrame:
    """Per-group HyperLogLog registers from the portable md5 hash:
    bucket = first 8 hash bits (2 hex chars), rho = 1 + leading-zero
    count of the next 52 bits (13 hex chars), register = max(rho).

    Unlike the engine-native ``approx_count_distinct`` (HLL++ with
    engine-private state), this sketch is bit-for-bit reproducible in
    any engine that evaluates md5 — DuckDB builds the *identical*
    register file, so HLL estimates can sit under the strict hash
    comparator instead of a rows-only check.

    Scale shape: narrow map (hash + two substrings + a CASE ladder),
    then ONE map-side-combinable shuffle on (group, bucket) — at most
    256 rows per group survive regardless of input size. The
    leading-zero count is computed on hex characters (count of
    leading '0' chars x 4 + a 16-way CASE on the first non-zero
    digit), avoiding float log2 whose boundary rounding differs
    between engines.

    Returns (group_col, _bucket, _reg)."""
    payload = F.concat(F.lit(str(seed)), F.lit(":"),
                       F.col(value_col).cast("string"))
    h = F.md5(payload)
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    hex13 = F.substring(h, 3, 13)
    trimmed = F.regexp_replace(hex13, "^0*", "")
    nlead0 = F.lit(13) - F.length(trimmed)
    first = F.substring(trimmed, 1, 1)
    lz4 = (F.when(first == "1", 3)
           .when(first.isin("2", "3"), 2)
           .when(first.isin("4", "5", "6", "7"), 1)
           .otherwise(0))
    rho = (F.when(F.length(trimmed) == 0, F.lit(_HLL_RHO_BITS + 1))
           .otherwise(nlead0 * 4 + lz4 + 1))
    return (df.select(F.col(group_col), bucket.alias("_bucket"),
                      rho.cast("int").alias("_rho"))
            .groupBy(group_col, "_bucket")
            .agg(F.max("_rho").alias("_reg")))


def hll_merge(*sketches: DataFrame, group_col: str,
              group_expr=None) -> DataFrame:
    """Union-merge register files: register-wise max. ``group_expr``
    optionally relabels groups first (e.g. ``F.lit('__union__')``
    collapses every group into one union sketch) — the lossless-union
    property is WHY HLL is the standing distinct-count monitor at
    100 TB: per-partition/per-day sketches combine without re-reading
    data."""
    from functools import reduce
    merged = reduce(DataFrame.unionByName, sketches)
    if group_expr is not None:
        merged = merged.select(group_expr.alias(group_col),
                               "_bucket", "_reg")
    return (merged.groupBy(group_col, "_bucket")
            .agg(F.max("_reg").alias("_reg")))


def hll_estimate(sketch: DataFrame, group_col: str) -> DataFrame:
    """Raw HLL estimate alpha_m * m^2 / sum_j 2^-reg_j from a register
    file. The harmonic sum is carried as the EXACT integer
    sum(2^(53-reg)) (max 256 * 2^53 < 2^62 — BIGINT-safe), with empty
    registers contributing 2^53 each; the final expression is a fixed
    tree of IEEE double ops on that integer, so both engines round
    identically. No bias/linear-counting correction — this is the
    *calibration* form; pair it with an exact count to measure the
    error (see ``hll_distinct_calibration``).

    Returns (group_col, n_zero_regs, est_distinct)."""
    two53 = 1 << _HLL_RHO_BITS + 1
    term = F.expr(f"shiftleft(1L, {_HLL_RHO_BITS + 1} - _reg)")
    agg = (sketch.groupBy(group_col)
           .agg(F.sum(term).alias("_s_present"),
                F.count(F.lit(1)).alias("_nb")))
    s_scaled = (F.col("_s_present")
                + (F.lit(HLL_M) - F.col("_nb")).cast("long") * F.lit(two53))
    alpha = (F.lit(0.7213)
             / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M))))
    est = (alpha * F.lit(float(HLL_M * HLL_M)) * F.lit(float(two53))
           / s_scaled.cast("double"))
    return agg.select(
        group_col,
        (F.lit(HLL_M) - F.col("_nb")).cast("long").alias("n_zero_regs"),
        (F.round(est * F.lit(10_000.0))
         / F.lit(10_000.0)).alias("est_distinct"))


def hll_regs_sql(table: str = "events", group_col: str = "event_type",
                 value_col: str = "user_id", seed: int = 0) -> str:
    """DuckDB CTE fragment building the per-group HLL register file —
    the single source of truth the gate oracles share, so the rho
    ladder / seed prefix / register cap can never drift between
    queries and the Spark sketch. Emits CTEs ``r``, ``rho``, ``regs``
    (regs: group_col, bucket, reg)."""
    return f"""r AS (
  SELECT {group_col},
         CAST('0x' || substr(md5('{seed}:' || CAST({value_col} AS VARCHAR)),
                             1, 2) AS BIGINT) AS bucket,
         regexp_replace(substr(md5('{seed}:' || CAST({value_col} AS VARCHAR)),
                               3, 13), '^0*', '') AS t
  FROM {table}),
rho AS (SELECT {group_col}, bucket,
               CASE WHEN t = '' THEN 53
                    ELSE (13 - length(t)) * 4 +
                         CASE WHEN substr(t, 1, 1) = '1' THEN 3
                              WHEN substr(t, 1, 1) IN ('2','3') THEN 2
                              WHEN substr(t, 1, 1) IN ('4','5','6','7') THEN 1
                              ELSE 0 END + 1 END AS rho
        FROM r),
regs AS (SELECT {group_col}, bucket, max(rho) AS reg FROM rho GROUP BY 1, 2)"""


def hll_estimate_sql(group_col: str = "event_type",
                     regs_cte: str = "regs") -> str:
    """DuckDB fragment computing (group, n_zero_regs, est_distinct)
    from a register CTE — mirrors :func:`hll_estimate` exactly,
    constants derived from HLL_M."""
    m = HLL_M
    two53 = 1 << (_HLL_RHO_BITS + 1)
    return f"""agg AS (SELECT {group_col},
               sum(CAST(1 AS BIGINT) << (53 - reg)) AS s_present,
               count(*) AS nb
        FROM {regs_cte} GROUP BY 1),
est AS (SELECT {group_col}, CAST({m} - nb AS BIGINT) AS n_zero_regs,
               round((0.7213 / (1.0 + 1.079 / {m}.0)) * {m * m}.0
                     * {two53}.0
                     / CAST(s_present + CAST({m} - nb AS BIGINT) * {two53}
                            AS DOUBLE) * 10000.0) / 10000.0
                 AS est_distinct
        FROM agg)"""
