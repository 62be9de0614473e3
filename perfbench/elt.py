"""``elt_incremental``: the paper's incremental load, the only write path.

One loader runs micro-batches in a closed loop. An op is one batch,
from publishing its objects on the loopback lake to the change being
visible in the mirror table and its aggregate:

1. publish the batch as JSON-lines objects on the lake;
2. extract them through ``restlake`` + ``HttpLakeTransport``, skipping
   objects the processed-id ledger already holds;
3. ``pipeline.ingest_records`` (canonical names, drift versions), then
   ``pipeline.stage``, cleansing and ``operators.validate``;
4. ``lakehouse.merge_into`` with schema evolution into the fact table;
5. ``streaming.cdf.stream_changes(coalesce_versions=True)`` into the
   mirror, then a ``plans.transform`` aggregate of the mirror.

Every ``MAINTAIN_EVERY`` batches the op also compacts and expires both
tables. After each batch three fresh reads run against the fact table
(point lookup, pruned range read, full aggregate), each its own timed
"read". The generator's reference state checks every read and, after
the timed phase, the mirror and the aggregate.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

from common import Op, Workload
import gen
from lake import LakeServer

# Measured on a 4-core host: 3k-row batches into a 50k-row table took
# 12-15 s a batch and about 117 s a run, twice a run's budget of about
# 70 s. 1k-row batches into a 20k-row table take 8-11 s, against 7-9 s
# for 200-row batches, so rows cost a share of each batch here while
# three batches and their reads still fit one run.
BATCH_ROWS = 1_000
INITIAL_ROWS = 20_000
MAINTAIN_EVERY = 3
# One object per lake chunk (lake.N_CHUNKS), so each extract task of a
# batch fetches one object.
OBJECTS_PER_BATCH = 4
BC = "GL"
RANGE_KEYS = 200


class EltIncremental(Workload):
    def setup(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from luma_etl_data_platform_spark.schema_registry.registry import SchemaRegistry
        from luma_etl_data_platform_spark.sources import lakehouse as LH
        from luma_etl_data_platform_spark.sources.incremental import ProcessedIdLedger
        from luma_etl_data_platform_spark.sources.rest_lake import (
            RestLakeDataSource, transport_option,
        )
        self.F, self.LH = F, LH
        w = self.work
        self.paths = {k: os.path.join(w, k) for k in
                      ("fact", "mirror", "staging", "ledger", "cdf_ledger", "agg")}
        self.stream = gen.EltStream(self.seed, gen.EltParams.from_seed(self.seed, BATCH_ROWS))
        self.raw_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in gen.ELT_BASE_COLS]
            + [T.StructField(f"Drift_{k}", T.StringType())
               for k in range(1, gen.MAX_DRIFT + 1)])
        self.lake = LakeServer(self.seed, threads=os.cpu_count() or 4)
        self.spark.dataSource.register(RestLakeDataSource)
        self.transport_opt = transport_option(self.lake.transport())
        self.registry = SchemaRegistry()
        self.ledger = ProcessedIdLedger(self.spark, self.paths["ledger"])
        self.rng = random.Random(self.seed)
        self.space_amps: list[float] = []
        self.files_ratios: list[float] = []
        self._reset_counters()
        # batch 0: the initial load through the same extract/cleanse
        # path, which pays that path's first-run costs in set-up. The
        # first timed batch pays the MERGE path's, as the first batch
        # of a freshly started loader does: 1.5-6 s over the next two.
        # An untimed warm-up batch cost 12-18 s of set-up a run, which
        # the benchmark's time budget does not leave.
        t0 = time.perf_counter()
        clean = self._extract_clean(0, self.stream.initial(INITIAL_ROWS))
        LH.create_table(self.spark, self.paths["fact"], clean, ["id"])
        self._cdf_and_aggregate()
        self.batches = 0
        self.log(f"initial load {time.perf_counter() - t0:.2f} s")

    # ------------------------------------------------------------ stages
    def _publish(self, b: int, rows: list[dict]) -> list[str]:
        k = OBJECTS_PER_BATCH
        ids = []
        for j in range(k):
            oid = f"{BC}-{b:05d}-{j}"
            self.lake.publish(oid, gen.to_jsonl(rows[j::k]))
            ids.append(oid)
        return ids

    def _extract_clean(self, b: int, rows: list[dict]):
        from luma_etl_data_platform_spark import pipeline
        from luma_etl_data_platform_spark.functions.cleansing import repair_amount
        from luma_etl_data_platform_spark.operators import validate
        F, spark, tr = self.F, self.spark, self.tracer
        ids = self._publish(b, rows)
        with _maybe_span(tr, "sources.incremental.read.execute", "sources.rest_lake"):
            done = [r[0] for r in self.ledger.read().select("id").collect()]
        drift = self.stream.drift_cols(b)
        with _maybe_span(tr, "sources.rest_lake.extract", "sources.rest_lake"):
            raw = (spark.read.format("restlake").schema(self.raw_schema)
                   .option("business_class", BC)
                   .option("transport_pickle", self.transport_opt)
                   .option("exclude_ids", ",".join(done))
                   .load())
            raw = (raw.select(*[F.col(f"`{c}`") for c in (*gen.ELT_BASE_COLS, *drift)])
                   .localCheckpoint(eager=True))
        tagged = pipeline.ingest_records(raw, self.registry)
        pipeline.stage(tagged, self.paths["staging"], batch_id=b)
        with _maybe_span(tr, "pipeline.read_staged", "pipeline"):
            staged = (spark.read.option("basePath", self.paths["staging"])
                      .parquet(f"{self.paths['staging']}/_schema_version=*/_batch_id={b}"))
        cleansed = staged.select(
            "id", repair_amount(F.col("Amount")).alias("Amount"),
            "Account_Unit", F.col("Qty").try_cast("int").alias("Qty"), "op",
            *drift, F.col("_schema_version").cast("int").alias("_schema_version"),
            F.lit(b).cast("int").alias("_batch_id"))
        clean, rejects = validate.enforce_expectations(cleansed, {
            "amount_unparsable": F.col("Amount").isNull(),
            "id_missing": F.col("id").isNull()})
        with _maybe_span(tr, "operators.validate.execute", "operators.validate"):
            if tr:
                self.rejected += rejects.count()
            clean = clean.localCheckpoint(eager=True)
        self.ledger.record(spark.createDataFrame([(i,) for i in ids], "id string"), b)
        return clean

    def _apply_changes(self, changes, version: int) -> None:
        """The mirror is a latest-state-by-key sink: one MERGE applies
        the coalesced net diff (deletes match and delete, inserts and
        post-images upsert); ``_last_change`` records the change kind."""
        F, LH, spark = self.F, self.LH, self.spark
        mirror = self.paths["mirror"]
        src = (changes.filter(F.col("_change_type") != "update_preimage")
               .withColumnRenamed("_change_type", "_last_change"))
        if self.tracer:
            src = src.localCheckpoint(eager=True)
            self.cdf_stats["rows"] += src.count()
        if LH.current_version(spark, mirror) == 0:
            LH.create_table(spark, mirror, src, ["id"])
            return
        LH.merge_into(spark, mirror, src, ["id"], update_set="all",
                      delete_condition=F.col("src._last_change") == "delete",
                      schema_evolution=True)

    def _cdf_and_aggregate(self) -> None:
        from luma_etl_data_platform_spark.plans import transform
        from luma_etl_data_platform_spark.streaming import cdf
        F, LH, spark = self.F, self.LH, self.spark
        res = cdf.stream_changes(spark, self.paths["fact"], self._apply_changes,
                                 self.paths["cdf_ledger"], coalesce_versions=True)
        self.cdf_stats["versions"] += len(res["versions_applied"])
        agg = (LH.read_table(spark, self.paths["mirror"])
               .groupBy("Account_Unit")
               .agg(F.count("*").alias("rows"),
                    F.round(F.sum("Amount"), 2).alias("amount")))
        transform.replace_parquet_staged(spark, self.paths["agg"], agg)

    # -------------------------------------------------------------- loop
    def _reset_counters(self) -> None:
        self.write_amps: list[float] = []
        self.cdf_stats = {"versions": 0, "rows": 0}
        self.rejected = 0
        self.maintenance_s = 0.0

    def run(self, seconds: float) -> list[Op]:
        self._reset_counters()
        ops: list[Op] = []
        t_end = time.perf_counter() + seconds
        b = self.batches
        # whole rounds of MAINTAIN_EVERY batches, one of which also
        # compacts and expires
        while time.perf_counter() < t_end:
            for _ in range(MAINTAIN_EVERY):
                b += 1
                # the generator runs before the op's window opens
                rows = self.stream.next_batch()
                ops.append(self._timed(f"batch{b}", len(ops), lambda: self._batch(b, rows)))
                self._record_space()
                for name, fn in self._reads():
                    ops.append(self._timed(name, len(ops), fn, kind="read"))
        self.timed_batches = b - self.batches
        self.batches = b
        return ops

    def _timed(self, name: str, i: int, fn, kind: str = "op") -> Op:
        tr = self.tracer
        if tr:
            tr.op = i
        t0 = time.perf_counter()
        ok = True
        try:
            check = fn()
        except Exception as ex:
            self.log(f"{name} failed: {type(ex).__name__}: {ex}")
            ok, check = False, None
        t1 = time.perf_counter()
        if tr:
            tr.op = None
        if ok and check is not None:
            ok = check()     # verification, outside the timed window
        return Op(name, t0, t1, ok, kind)

    def _batch(self, b: int, rows: list[dict]):
        clean = self._extract_clean(b, rows)
        fact = self.paths["fact"]
        before = _dir_bytes(fact) if self.tracer else 0
        self.LH.merge_into(self.spark, fact, clean, ["id"],
                           update_set="all",
                           delete_condition=self.F.col("src.op") == "D",
                           schema_evolution=True)
        if self.tracer:
            self._note_write_amp(clean.count(), _dir_bytes(fact) - before)
        maintain = b % MAINTAIN_EVERY == 0
        t0 = time.perf_counter()
        if maintain:
            self.LH.compact(self.spark, fact)
        t1 = time.perf_counter()
        self._cdf_and_aggregate()
        t2 = time.perf_counter()
        if maintain:
            # expire only after the feed applied the compaction: the
            # change feed needs each version's predecessor
            self.LH.expire_snapshots(self.spark, fact, keep_last=1)
            self.LH.compact(self.spark, self.paths["mirror"])
            self.LH.expire_snapshots(self.spark, self.paths["mirror"], keep_last=1)
            self.maintenance_s += (t1 - t0) + (time.perf_counter() - t2)
        return None

    def _note_write_amp(self, changed: int, written: int) -> None:
        """Bytes a merge wrote ÷ bytes of the source rows it applied,
        the latter estimated from the live snapshot's mean row size.
        ``merge_into`` reports files, not rows, so the source is
        counted (a checkpointed frame, in the traced run only)."""
        live = sum(os.path.getsize(p.replace("file:", "", 1))
                   for p in self.LH.snapshot_files(self.spark, self.paths["fact"]))
        rows = max(len(self.stream.state), 1)
        if changed and live:
            self.write_amps.append(written / (live / rows * changed))

    def _execute(self, df):
        """Run a lakehouse read to its full result; the jobs belong to
        the read layer that built the plan."""
        with _maybe_span(self.tracer, "sources.lakehouse.read.execute", "lakehouse.read"):
            return df.toPandas()

    def _reads(self):
        """The three fresh reads of one batch, each returning a check."""
        F, LH, spark, fact = self.F, self.LH, self.spark, self.paths["fact"]
        state = self.stream.state
        keys = self.stream.keys
        key = keys[len(keys) - 1 - min(int(self.rng.expovariate(0.05)), len(keys) - 1)]
        lo = keys[max(0, len(keys) - RANGE_KEYS)]
        hi = keys[-1]

        def point():
            pdf = self._execute(LH.read_table_point_lookup(spark, fact, {"id": key}))
            want = state[key]
            return lambda: (len(pdf) == 1 and _row_matches(pdf.iloc[0], want))

        def pruned():
            pdf = self._execute(LH.read_table_pruned(spark, fact, "id", lo, hi).select("id"))

            def check():
                want = {k for k in state if lo <= k <= hi}
                return set(pdf["id"]) == want and len(pdf) == len(want)
            return check

        def full():
            pdf = self._execute(LH.read_table(spark, fact).groupBy("op")
                                .agg(F.count("*").alias("n")))

            def check():
                want: dict[str, int] = {}
                for row in state.values():
                    want[row["op"]] = want.get(row["op"], 0) + 1
                return dict(zip(pdf["op"], pdf["n"].astype(int))) == want
            return check

        return [("read_point", point), ("read_range", pruned), ("read_full", full)]

    def _record_space(self) -> None:
        fact = self.paths["fact"]
        total = _dir_bytes(fact)
        live = sum(os.path.getsize(p.replace("file:", "", 1))
                   for p in self.LH.snapshot_files(self.spark, fact))
        if live:
            self.space_amps.append(total / live)
        if self.tracer:
            keys = self.stream.keys
            lo, hi = keys[max(0, len(keys) - RANGE_KEYS)], keys[-1]
            cand = self.LH.pruned_candidate_files(self.spark, fact, {"id": (lo, hi)})
            n = len(self.LH.snapshot_files(self.spark, fact))
            if n:
                self.files_ratios.append(len(cand) / n)

    # ------------------------------------------------------------ checks
    def check(self, ops: list[Op]) -> int:
        """The mirror and the aggregate must equal the reference state;
        a mismatch fails every batch op (reads were checked inline)."""
        F, LH, spark = self.F, self.LH, self.spark
        mirror = LH.read_table(spark, self.paths["mirror"]).toPandas()
        state = self.stream.state
        ok = len(mirror) == len(state) and all(
            r["id"] in state and _row_matches(r, state[r["id"]])
            for r in mirror.to_dict("records"))
        if not ok:
            self.log(f"mirror differs from reference ({len(mirror)} vs {len(state)} rows)")
        agg = spark.read.parquet(self.paths["agg"]).toPandas()
        want = self.stream.reference_aggregate()
        got = {r.Account_Unit: (int(r.rows), float(r.amount)) for r in agg.itertuples()}
        agg_ok = got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) < 0.011 for k in want)
        if not agg_ok:
            self.log("aggregate differs from reference")
        if ok and agg_ok:
            return 0
        return sum(1 for o in ops if o.kind == "op" and o.ok)

    def trace_extras(self, ops: list[Op]) -> dict[str, float]:
        from stats import latency_summary
        LH, spark, fact = self.LH, self.spark, self.paths["fact"]
        n = max(self.timed_batches, 1)
        reads = [o.seconds for o in ops if o.kind == "read"]
        rs = latency_summary(reads) if reads else {"p50": 0.0, "tail": 0.0}
        extract = [s for s in self.tracer.spans if s["name"] == "sources.rest_lake.extract"
                   and s["op"] is not None]
        st = self.lake.stats
        return {
            "elt.read_p50_s": rs["p50"], "elt.read_tail_s": rs["tail"],
            "elt.space_amp": _mean(self.space_amps),
            "rest_lake.plan_s": sum(max(0.0, s["end"] - s["start"] - s["jobs_s"])
                                    for s in extract) / n,
            "http.requests": st["requests"] / n, "http.retries": st["retries"] / n,
            "http.bytes": st["bytes"] / n, "oauth.token_fetches": st["tokens"] / n,
            "schema_registry.versions": len(self.registry.versions) - 1,
            "validate.rows_rejected": self.rejected / n,
            "lakehouse.write_amp": _mean(self.write_amps),
            "lakehouse.log_versions": LH.current_version(spark, fact),
            "lakehouse.live_files": len(LH.snapshot_files(spark, fact)),
            "lakehouse.read.files_ratio": _mean(self.files_ratios),
            "lakehouse.maintenance_s": self.maintenance_s / n,
            "cdf.versions_applied": self.cdf_stats["versions"] / n,
            "cdf.change_rows": self.cdf_stats["rows"] / n,
        }

    def close(self) -> None:
        self.lake.close()


def _row_matches(row, want: dict) -> bool:
    for c, v in want.items():
        got = row[c] if c in row else None
        if isinstance(v, float):
            if got is None or abs(float(got) - v) > 1e-6:
                return False
        elif (None if got is None else type(v)(got)) != v:
            return False
    return True


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _maybe_span(tracer, name: str, layer: str):
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, layer, name.rsplit(".", 1)[0])
