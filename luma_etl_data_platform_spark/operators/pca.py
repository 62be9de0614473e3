"""Distributed PCA: top principal component via exact-integer Gram
aggregation + driver-side power iteration.

The split follows Spark MLlib's own ``computePrincipalComponents``
shape — the only corpus-sized pass is the d×d Gram aggregation; the
eigen-solve runs on the driver over a d² table (d = 64 here), which
is bounded state exactly like a schema-key list or an aggregate
readback. What MLlib does NOT give you is cross-engine
reproducibility: its Gram is a float sum (partition-order dependent)
and its eigensolver is LAPACK. Here every step up to the final
normalization is EXACT integer arithmetic:

- vectors snap to integer micro-units (the repo's embedding
  convention, ``floor(x*1e6 + 0.5)``);
- the uncentered Gram ``G = Σ q qᵀ``, the per-dim sums ``s`` and the
  row count ``n`` all come from ONE corpus pass (the count/sum terms
  ride the same exploded struct stream as the outer products, keyed
  at the reserved index 0), aggregated as BIGINT products into
  DECIMAL(38,0) (order-free); the centered scatter matrix is then
  the exact integer identity ``A = n·G − s sᵀ`` — no mean-subtraction
  division ever happens;
- power iteration runs in arbitrary-precision Python ints with a
  truncating rescale ``v' = sign(w)·(|w|·1e6 ÷ wmax)`` (integer floor
  division on non-negative operands — unambiguous in every engine);
  after K fixed rounds the iterate is a deterministic function of the
  data, converged or not, which is what an oracle gate needs;
- only the final loadings/explained-share computation touches IEEE
  doubles, as a fixed expression tree over exact integers.

Scale shape: the single pass emits each row's d² outer product (plus
d+1 sum/count terms) from a nested array transform — no self-join,
no corpus shuffle — and the (i,j)-keyed aggregation collapses
map-side to ≤ (d+1)² rows per partition. Driver state is O(d²)
integers.

Reference scope: beyond-reference surface (the reference has no
linear algebra); mandated by the task brief's embedding family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import MICRO as _M
from ..functions.vectors import micro_units


def _quantized(vec_col: str, dim: int):
    # slice first: the dim parameter is a real contract (vectors wider
    # than dim are truncated; narrower ones error in posexplode math)
    return micro_units(F.col(vec_col), dim)


def _all_terms(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """ONE corpus pass emitting every aggregate PCA needs as
    (i, j, t) rows: Gram entries at (i≥1, j≥1), per-dim sums at
    (i≥1, 0), and the row count at (0, 0) — exact decimal sums."""
    vi = _quantized(vec_col, dim)
    outer = F.flatten(F.transform(
        vi, lambda x, i: F.transform(
            vi, lambda y, j: F.struct(
                (i + 1).alias("i"), (j + 1).alias("j"),
                (x * y).alias("t")))))
    sums = F.transform(
        vi, lambda x, i: F.struct(
            (i + 1).alias("i"), F.lit(0).alias("j"), x.alias("t")))
    cnt = F.array(F.struct(F.lit(0).alias("i"), F.lit(0).alias("j"),
                           F.lit(1).cast("long").alias("t")))
    return (df.select(F.explode(F.concat(outer, sums, cnt)).alias("o"))
            .select("o.i", "o.j", "o.t")
            .groupBy("i", "j")
            .agg(F.sum(F.col("t").cast("decimal(38,0)")).alias("g")))


def _power_iterate(A: list[list[int]], dim: int,
                   k_iters: int) -> list[int]:
    v = [_M] * dim
    for _ in range(k_iters):
        w = [sum(A[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        wm = max(abs(x) for x in w)
        if wm == 0:  # zero scatter — degenerate input, keep iterate
            break
        v = [(x * _M) // wm if x >= 0 else -((-x * _M) // wm) for x in w]
    return v


def pca_top_component(spark: SparkSession, df: DataFrame, vec_col: str,
                      dim: int, k_iters: int = 8) -> DataFrame:
    """Top principal component of the micro-unit-quantized vectors:
    returns (dim, loading, explained_share) with ``dim`` 0-based,
    ``loading`` the unit-norm component (sign fixed so the largest-
    magnitude coordinate is positive; ties → lowest dim), and
    ``explained_share`` the Rayleigh-quotient estimate λ/trace of the
    variance share — constant across rows."""
    rows = _all_terms(df, vec_col, dim).collect()

    G = [[0] * dim for _ in range(dim)]
    s = [0] * dim
    n = 0
    for r in rows:
        i, j, g = r["i"], r["j"], int(r["g"])
        if i == 0 and j == 0:
            n = g
        elif j == 0:
            s[i - 1] = g
        else:
            G[i - 1][j - 1] = g
    A = [[n * G[i][j] - s[i] * s[j] for j in range(dim)]
         for i in range(dim)]

    v = _power_iterate(A, dim, k_iters)
    w = [sum(A[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    num = sum(v[i] * w[i] for i in range(dim))          # vᵀAv
    den = sum(x * x for x in v)                          # vᵀv
    trace = sum(A[i][i] for i in range(dim))
    d_sel = min(range(dim), key=lambda d: (-abs(v[d]), d))
    sgn = 1.0 if v[d_sel] >= 0 else -1.0

    from ..core.localframe import local_frame
    vdf = local_frame(spark, [(i, v[i]) for i in range(dim)],
                      "dim int, v long")
    loading = F.round(F.col("v").cast("double") * F.lit(sgn)
                      / F.sqrt(F.lit(float(den))), 6)
    # den >= MICRO^2 always (the iterate keeps a ±MICRO coordinate),
    # but trace == 0 for a degenerate corpus (empty, or every vector
    # identical → zero scatter): define the share as 0.0 rather than
    # dividing by zero (ANSI mode would throw; non-ANSI would NaN)
    if trace > 0:
        share = F.round(F.lit(float(num))
                        / (F.lit(float(den)) * F.lit(float(trace))), 8)
    else:
        share = F.lit(0.0)
    return (vdf.select("dim", loading.alias("loading"),
                       share.alias("explained_share"))
            .orderBy("dim"))
