"""Product quantization (PQ) for approximate nearest neighbor serving.

The missing compression tier of the ANN family (brute/batched/IVF/
sign-LSH/k-means-IVF live in ``operators/similarity.py`` /
``operators/kmeans.py``): split each d-dim vector into M contiguous
subspaces, quantize every subspace to one of k codebook entries, and
serve queries with an asymmetric-distance computation (ADC) — the
query keeps full precision, each corpus vector is reduced to M small
code ids, and the approximate distance is a sum of M table lookups
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Why this matters at 100 TB: a float32 corpus at d=64 is 256 B/vector;
PQ at M=4, k=16 is 4 code ids — a ~64x smaller serving index that
fits executor memory when raw vectors cannot, and the serving scan
reads ONLY the code columns (columnar projection does the rest).
Encoding is one pass; re-ranking survivors against raw vectors is a
bounded second read.

Determinism doctrine (same as ``operators/kmeans.py``): vectors snap
to integer micro-units; codebook entries are the sub-vectors of the k
corpus rows with the smallest portable md5 of their id (no RNG — the
SemDeDup/k-means seeding rule; swap in trained ``kmeans_model``
centroids per subspace in production); all distances are exact
integer squared-L2, ties break to the smaller code id; the ADC total
is an exact BIGINT — bit-identical at any partitioning and replayable
in any engine.

Plan shape (round-12 rewrite, optimization guide §2.4 "remove
shuffles outright"): every decision about a vector — the per-subspace
argmin, the code string, the ADC sum — depends only on that vector's
own row plus the M*k-entry codebook, so NOTHING here needs an
exchange before the final top-k. The codebook rows are folded into a
ONE-ROW broadcast frame holding a (m, code)-sorted array of entries
(still a LocalRelation under the hood — never an inline literal tree:
inlining M*k fold expressions made Catalyst analysis, not execution,
the dominant cost), and encoding is a single narrow projection:
``transform`` over the row's M sub-vectors, each taking
``aggregate(filter(book, e.m == s.m), least(struct(d2, code, qd2)))``
— exact-integer lexicographic min, ties to the smaller code id
because the entry array is code-sorted and ``least`` keeps the
earlier struct on a strict tie. The old shape exploded the corpus
into M rows per vector, broadcast-joined the codebook, and paid a
corpus-wide ``groupBy(id, m)`` exchange (plus a second ``groupBy(id)``
for the ADC sum) to reassemble what the source row already held
side by side. No row-wise UDF anywhere; top-k is
TakeOrderedAndProject over the narrow projection — ZERO wide
shuffles in the serving path.

Reference scope: beyond-reference (no ANN in the reference); task
brief's similarity-search scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from pyspark.sql import functions as F


from ..functions.text import portable_hash32
from ..functions.vectors import micro_units


def _d2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two micro-unit sub-vectors
    (longs: |x| <= ~2e6 per component, so a 16-dim sum is bounded by
    16 * 1.6e13 << 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def _subspaces(vec: Column, dim: int, m_sub: int) -> Column:
    """array<struct<m int, sub array<long>>> — the vector split into
    its M contiguous subspaces (one small expression, exploded once)."""
    sub_d = dim // m_sub
    return F.array(*[
        F.struct(F.lit(m).alias("m"),
                 F.slice(vec, m * sub_d + 1, sub_d).alias("sub"))
        for m in range(m_sub)])


_LONG_MAX = (1 << 63) - 1


def _best_entry(s: Column, bq: Column) -> Column:
    """``struct(d2, code, qd2)`` of the codebook entry nearest to
    subspace ``s`` — the narrow (per-row, shuffle-free) form of the
    per-(vector, subspace) argmin. ``bq`` is the one-row codebook
    array sorted by (m, code); ``least`` keeps the lexicographically
    smaller struct, so a d2 tie resolves to the smaller code id —
    identical semantics to the former ``min(struct(d2, code, qd2))``
    aggregation, with zero exchanges."""
    init = F.struct(F.lit(_LONG_MAX).cast("long").alias("d2"),
                    F.lit(-1).cast("int").alias("code"),
                    F.lit(0).cast("long").alias("qd2"))
    return F.aggregate(
        F.filter(bq, lambda e: e.getField("m") == s.getField("m")),
        init,
        lambda acc, e: F.least(acc, F.struct(
            _d2(s.getField("sub"), e.getField("sub")).alias("d2"),
            e.getField("code").alias("code"),
            e.getField("qd2").alias("qd2"))))


def pq_codebook_df(spark: SparkSession, df: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64, m_sub: int = 4,
                   k_codes: int = 16) -> DataFrame:
    """Seeded codebook as an (m, code, sub) frame of M*k rows: entry
    ``code`` of every subspace is the sub-vector of the corpus row
    with rank ``code`` under (portable md5 of id, id) — deterministic
    and engine-portable. The ONE bounded driver collect is k rows
    (the kmeans-seed pattern); production swaps in per-subspace
    ``kmeans_model`` centroids under the same schema."""
    sub_d = dim // m_sub
    qv = micro_units(F.col(vec_col), dim)
    seeds = (df.select(F.col(id_col).alias("_id"), qv.alias("_q"))
             .withColumn("_h", portable_hash32(F.col("_id")))
             .orderBy("_h", "_id").limit(k_codes).collect())
    rows = [(m, code, list(r["_q"][m * sub_d:(m + 1) * sub_d]))
            for code, r in enumerate(seeds) for m in range(m_sub)]
    # createDataFrame (NOT a literal plan) is deliberate here: the
    # codebook frame is broadcast-joined inside every ADC query and
    # rebuilt per Lloyd iteration — an inline literal tree is
    # re-analyzed by Catalyst in each downstream plan (measured 2x
    # slower end-to-end on ann_pq_trained_topk), while a LocalRelation
    # is opaque and tiny. local_frame stays the right tool for
    # one-shot flag/ledger rows.
    return spark.createDataFrame(
        rows, "m int, code int, sub array<long>")


def pq_trained_codebook_df(spark: SparkSession, df: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int = 64, m_sub: int = 4,
                           k_codes: int = 16,
                           iters: int = 1) -> DataFrame:
    """TRAINED codebook: per-subspace Lloyd k-means over the corpus
    sub-vectors, seeded from :func:`pq_codebook_df` — the production-
    quality codebook (Jégou et al. §III trains exactly this; the
    seeded variant is the determinism-doctrine fallback). Fully
    deterministic, no RNG:

    - assignment is the exact-integer squared-L2 argmin, ties to the
      smaller code id (the ADC rule);
    - the update is the component-wise rounded mean computed exactly:
      ``floor((2*sum + n) / (2*n))`` (round-half-up in pure integer
      arithmetic — replayable as a floor of an exactly-representable
      double while |2*sum + n| < 2^53, which micro-unit components at
      any tested corpus size guarantee);
    - a code that loses every member carries its previous entry (the
      Lloyd convention in ``operators/kmeans.py``).

    Scale shape per round (round-12 narrow rewrite, guide §2.4): the
    assignment is a per-row expression — each corpus row already
    holds all M of its sub-vectors, so the former explode +
    broadcast-join + corpus-wide ``groupBy(id, m)`` exchange computed
    per-row information the source row had side by side. One round is
    now ONE job whose only exchange is the (m, code, dim)-keyed
    partial-aggregated sum — key space M*k*sub_d, so the shuffle
    carries O(partitions * 1024) rows, never O(corpus) — and the
    driver holds only the M*k*sub_d update integers (1024 longs at
    the defaults)."""
    sub_d = dim // m_sub
    qv = micro_units(F.col(vec_col), dim)
    # the seed collect and the sub-vector checkpoint are INDEPENDENT
    # corpus scans — overlap them (optimization guide §2.6) instead of
    # idling through each job's tail; results are unchanged (the seed
    # frame is a LocalRelation either way). inherit_thread_target
    # propagates the caller's job group/description/pool into the
    # worker so cancellation and UI labels still reach the seed job
    # (ADVICE r11).
    from concurrent.futures import ThreadPoolExecutor

    from ..core.session import inherit_thread_target
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_seeds = pool.submit(
            inherit_thread_target(spark, pq_codebook_df), spark, df,
            id_col, vec_col, dim, m_sub, k_codes)
        subs = (df.select(_subspaces(qv, dim, m_sub).alias("_ss"))
                .localCheckpoint(eager=True))  # reused every round
        seeds = fut_seeds.result()
    entries = {(r["m"], r["code"]): list(r["sub"])
               for r in seeds.collect()}
    for _ in range(iters):
        bdf = spark.createDataFrame(
            [(m, c, s) for (m, c), s in sorted(entries.items())],
            "m int, code int, sub array<long>")
        bq = bdf.agg(F.sort_array(F.collect_list(F.struct(
            "m", "code", "sub",
            F.lit(0).cast("long").alias("qd2")))).alias("_bq"))
        # narrow per-row assignment: argmin code per subspace, the
        # member's own sub-vector carried into the update for free
        best = F.transform(F.col("_ss"), lambda s: F.struct(
            s.getField("m").alias("m"),
            _best_entry(s, F.col("_bq")).getField("code").alias("code"),
            s.getField("sub").alias("vsub")))
        sums = (subs.crossJoin(F.broadcast(bq))
                .select(F.explode(best).alias("b"))
                .select(F.col("b.m").alias("m"),
                        F.col("b.code").alias("code"),
                        F.posexplode(F.col("b.vsub")).alias("i", "x"))
                .groupBy("m", "code", "i")
                .agg(F.sum("x").alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect())
        new: dict[tuple[int, int], list[int]] = {}
        for r in sums:
            key = (int(r["m"]), int(r["code"]))
            new.setdefault(key, [0] * sub_d)[int(r["i"])] = \
                (2 * int(r["s"]) + int(r["n"])) // (2 * int(r["n"]))
        for key, sub in entries.items():
            new.setdefault(key, sub)  # empty code: carry previous
        entries = new
    return spark.createDataFrame(
        [(m, c, s) for (m, c), s in sorted(entries.items())],
        "m int, code int, sub array<long>")


def pq_topk(df: DataFrame, query: DataFrame, k: int = 10,
            dim: int = 64, m_sub: int = 4, k_codes: int = 16,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            codebook: str = "seeded",
            train_iters: int = 1) -> DataFrame:
    """ADC top-k: encode the corpus against the codebooks and rank
    by the summed per-subspace distance to ``query`` (1-row frame).
    Returns (id, codes 'c0-c1-..', adc_dist) — smallest distance
    first, id-tiebroken; every value exact, so the result (including
    quantization error) hash-matches a relational replay.

    ``codebook``: ``"seeded"`` (deterministic corpus-row seeds) or
    ``"trained"`` (:func:`pq_trained_codebook_df` — per-subspace
    Lloyd, ``train_iters`` rounds)."""
    spark = df.sparkSession
    if codebook == "trained":
        book = pq_trained_codebook_df(spark, df, id_col, vec_col, dim,
                                      m_sub, k_codes, iters=train_iters)
    elif codebook == "seeded":
        book = pq_codebook_df(spark, df, id_col, vec_col, dim, m_sub,
                              k_codes)
    else:
        raise ValueError(f"pq_topk: unknown codebook {codebook!r} "
                         "(seeded | trained)")
    qv = micro_units(F.col(vec_col), dim)
    # query-to-codebook ADC table rides the codebook rows (M*k total),
    # folded into ONE broadcast row holding the (m, code)-sorted entry
    # array — the narrow encode below needs no join key
    qsub = (query.select(F.explode(_subspaces(qv, dim, m_sub))
                         .alias("s"))
            .select(F.col("s.m").alias("m"), F.col("s.sub").alias("qsub")))
    bq = (book.join(qsub, "m")
          .select("m", "code", "sub",
                  _d2(F.col("sub"), F.col("qsub")).alias("qd2"))
          .agg(F.sort_array(F.collect_list(
              F.struct("m", "code", "sub", "qd2"))).alias("_bq"))
          # an empty query (or codebook) aggregates to one EMPTY row;
          # drop it so the cross join below yields no rows at all
          .filter(F.size("_bq") > 0))
    # narrow encode (guide §2.4): per-subspace argmin, code string and
    # ADC sum are all functions of the single corpus row plus the
    # broadcast codebook — zero exchanges before the final top-k.
    # _subspaces emits subspaces in m order, so the codes string
    # matches the former array_sort(collect_list(struct(m, code))).
    enc = (df.select(F.col(id_col).alias("id"),
                     _subspaces(qv, dim, m_sub).alias("_ss"))
           .crossJoin(F.broadcast(bq))
           .withColumn("_best", F.transform(
               F.col("_ss"), lambda s: _best_entry(s, F.col("_bq")))))
    out = enc.select(
        F.col("id").alias(id_col),
        F.array_join(
            F.transform(F.col("_best"),
                        lambda b: b.getField("code").cast("string")),
            "-").alias("codes"),
        F.aggregate(F.col("_best"), F.lit(0).cast("long"),
                    lambda a, b: a + b.getField("qd2")).alias("adc_dist"))
    return out.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k)
