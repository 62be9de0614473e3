"""``analyst_queries``: read-only warehouse, event-analytics and corpus
operator queries in one loop, so both query layers are measured in one
run.

One analyst in a closed loop: each round runs every query of the mix
once, in an order drawn from the seed, and each op runs one query to
its full result (``toPandas``). Rounds repeat until ``--seconds`` have
passed and at least ``MIN_ROUNDS`` ran, and the round in progress
always finishes, so every run measures whole rounds of the same mix.
Set-up runs one untimed round first, so the timed ops are warm. Results
are compared with the registry's DuckDB oracles after the timed phase.
"""

from __future__ import annotations

import os
import random
import time

from check import duck_connect, same_result
from common import Op, Workload
import gen

# the corpus operator queries of the mix; their execution is the
# operators.corpus layer's work, the other queries' the plans layer's
CORPUS = {"dedup_minhash_lsh", "ann_cosine_topk", "ann_pq_topk"}
# One query per layer the workload is for: a scan aggregate and a
# rollup (plans), LSH dedup, exact cosine top-k and product quantisation
# (operators.corpus). Warm, a round of these takes 7-12 s on a 4-core
# host; the full TPC-H and corpus lists take several times that a round.
# sessionize_events returns 95k rows, whose oracle comparison took 4.6 s
# an op.
ANALYST = ("q1_pricing_summary", "revenue_rollup", "dedup_minhash_lsh",
           "ann_cosine_topk", "ann_pq_topk")
# Every query runs at least twice, so the median falls between two
# samples of the middle queries, not on one.
MIN_ROUNDS = 2


class AnalystQueries(Workload):
    names = ANALYST

    def setup(self) -> None:
        from luma_etl_data_platform_spark import api
        self.sf_dir = os.path.join(self.work, "sf")
        gen.write_tables(gen.warehouse_tables(self.seed), self.sf_dir)
        self.queries = api.all_queries()
        self.oracles = api.all_oracles()
        missing = [n for n in self.names if n not in self.queries or n not in self.oracles]
        if missing:
            raise RuntimeError(f"registry lacks query or oracle for {missing}")
        # warm-up: one untimed round of the whole mix on the same input,
        # so the timed ops measure warm queries (JIT-compiled code,
        # cached file listings and footers) and the first-run costs
        # show in setup_s instead. Which op of a cold round paid the
        # shared first-run costs depended on the seeded order.
        for name in self.names:
            self.queries[name](self.spark, self.sf_dir).toPandas()
        self.results: list[tuple[str, object]] = []

    def run(self, seconds: float) -> list[Op]:
        rng = random.Random(self.seed)
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() < t_end:
            rounds += 1
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                ops.append(self._op(name, len(ops)))
        return ops

    def _op(self, name: str, i: int) -> Op:
        tr = self.tracer
        if tr:
            tr.op = i
        # a lazy plan runs when executed: its jobs belong to the layer
        # that built it
        layer = "operators.corpus" if name in CORPUS else "plans.queries"
        t0 = time.perf_counter()
        ok = True
        try:
            if tr:
                with tr.span(f"{name}.build", "plans.queries"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with tr.span(f"{name}.execute", layer):
                    pdf = df.toPandas()
            else:
                pdf = self.queries[name](self.spark, self.sf_dir).toPandas()
            self.results.append((name, pdf))
        except Exception as ex:  # counted in error_rate, never fatal
            self.log(f"op {i} {name} failed: {type(ex).__name__}: {ex}")
            ok = False
        t1 = time.perf_counter()
        if tr:
            tr.op = None
        return Op(name, t0, t1, ok)

    def check(self, ops: list[Op]) -> int:
        """Wrong results among the ops that ran; oracle SQL runs once
        per query name."""
        con = duck_connect(self.sf_dir)
        expected = {}
        bad = 0
        for name, pdf in self.results:
            if name not in expected:
                expected[name] = con.execute(self.oracles[name]).fetchdf()
            if not same_result(pdf, expected[name]):
                bad += 1
                self.log(f"wrong result: {name} ({len(pdf)} rows vs "
                         f"{len(expected[name])} expected)")
        con.close()
        return bad

    def trace_extras(self, ops: list[Op]) -> dict[str, float]:
        n = max(len(ops), 1)
        build = sum(s["end"] - s["start"] for s in self.tracer.spans
                    if s["op"] is not None and s["name"].endswith(".build"))
        execute = sum(s["end"] - s["start"] for s in self.tracer.spans
                      if s["op"] is not None and s["name"].endswith(".execute"))
        return {"plans.build_s": build / n, "plans.execute_s": execute / n}
