#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session on
``local[$(nproc)]``, one workload driven by one client in a closed loop.
Inputs are generated from ``--seed`` under ``.bench_work/`` (removed on
exit). The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it carries the run's context (host canaries, versions,
tail percentiles); diagnostics go to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("elt_incremental", "analyst_queries")
DRIVER_MEM = "3g"
GC_ROUNDS = 8
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "ops_per_min": "ops/min", "live_mem_mb": "MB"}


# per-layer metrics that only some workloads produce; the others report 0
TRACE_EXTRAS = {
    "elt.read_p50_s": "s", "elt.read_tail_s": "s", "elt.space_amp": "ratio",
    "rest_lake.plan_s": "s", "http.requests": "count", "http.retries": "count",
    "http.bytes": "B", "oauth.token_fetches": "count",
    "schema_registry.versions": "count", "validate.rows_rejected": "count",
    "lakehouse.write_amp": "ratio", "lakehouse.log_versions": "count",
    "lakehouse.live_files": "count", "lakehouse.read.files_ratio": "ratio",
    "lakehouse.maintenance_s": "s", "cdf.versions_applied": "count",
    "cdf.change_rows": "count", "plans.build_s": "s", "plans.execute_s": "s",
}
_FIELD_UNITS = {"calls": "count", "self_s": "s", "jobs_s": "s", "driver_s": "s",
                "tasks": "count", "shuffle_bytes": "B", "spill_bytes": "B",
                "task_skew": "ratio", "session_start_s": "s", "coverage": "ratio",
                "spans": "count", "failed_spans": "count"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _workload_class(name: str):
    if name == "elt_incremental":
        from elt import EltIncremental
        return EltIncremental
    from queries import AnalystQueries
    return AnalystQueries


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms pinned to the heap maximum, so the collector's sizing does
        # not depend on when it chose to grow the heap. The temp files
        # (and the JVM's /tmp perf-data file) stay inside the work
        # directory.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def memory_mb(spark) -> dict[str, float]:
    """The driver's memory, in MB. ``live_heap`` is the JVM heap still
    in use after full collections: what the program keeps. Peak
    figures of a collected heap follow the collector's sizing instead
    (with the heap pinned, the pools' peaks sum to about the heap size
    on any workload), so ``heap_pool_peaks`` and the JVM's ``VmHWM``
    are only recorded. ``python`` is this process's peak RSS."""
    jvm = spark._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    pools = {p.getName(): p.getPeakUsage().getUsed() / 2**20
             for p in mgmt.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"}
    hwm_kb = 0
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    # Collect until the heap stops shrinking: a collection frees
    # objects whose release (py4j handles, Spark's cleaner thread) lets
    # a later one free more. Probed, the live heap fell 257 → 100 →
    # 83 MB and then held; one run read 199 MB twice before the
    # release, so at least three collections run.
    used = []
    for i in range(GC_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        used.append(mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)
        if i >= 2 and used[-1] > 0.98 * used[-2]:
            break
        time.sleep(0.5)
    return {"live_heap": min(used), "heap_pool_peaks": pools, "jvm_hwm": hwm_kb / 1024,
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    cpus = os.cpu_count() or 4
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
        # executors' Python workers import the package and the lake
        # transport from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    sys.path[:0] = [ROOT]
    spark = workload = None
    try:
        import luma_etl_data_platform_spark as pkg
        from luma_etl_data_platform_spark.core import session
        import host
        from stats import latency_summary
        from spantrace import Tracer

        tracer = Tracer() if args.trace else None
        t0 = time.perf_counter()
        # some package modules build Columns at import time, so the
        # package is wrapped once the session is up; the session call
        # itself gets its span here
        with (tracer.span("core.session.get_spark", "core.session", "core.session")
              if tracer else contextlib.nullcontext()):
            spark = session.get_spark(app_name=f"perfbench-{args.workload}",
                                      extra_conf=_spark_conf(work))
        session_start_s = time.perf_counter() - t0
        if tracer:
            tracer.install(pkg)
        workload = _workload_class(args.workload)(spark, args.seed, work, tracer)
        workload.setup()
        setup_s = time.perf_counter() - T_PROCESS

        ops = workload.run(args.seconds)
        timed_wall = ops[-1].end - ops[0].start if ops else 0.0
        # read before the checks and canaries
        mem = memory_mb(spark)
        t_check = time.perf_counter()
        wrong = workload.check(ops)
        check_s = time.perf_counter() - t_check
        attempted = len(ops)
        failed = sum(1 for o in ops if not o.ok) + wrong
        main_ops = [o.seconds for o in ops if o.kind == "op"]
        lat = latency_summary(main_ops)
        t_host = time.perf_counter()
        host_context = host.context(spark, work)
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": len(main_ops), "reads": attempted - len(main_ops),
            "timed_wall_s": timed_wall, "op_tail_pct": lat["tail_pct"],
            "op_log": [(o.name, round(o.seconds, 4), o.ok) for o in ops],
            "error_rate": failed / max(attempted, 1), "memory_mb": mem,
            "session_start_s": session_start_s, "check_s": check_s,
            "host": host_context, "host_s": time.perf_counter() - t_host,
            "inputs": "generated in memory and the page cache; no disk-bound reads",
        }
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": lat["p50"],
                "op_tail_s": lat["tail"],
                "ops_per_min": len(main_ops) / timed_wall * 60.0,
                "live_mem_mb": mem["live_heap"] + mem["python"],
            }
            result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        else:
            tracer.uninstall()
            windows = [(o.start, o.end) for o in ops]
            layer = tracer.layer_metrics(len(main_ops))
            layer["core.session_start_s"] = session_start_s
            layer["trace.coverage"] = tracer.coverage(windows)
            layer["trace.spans"] = sum(1 for s in tracer.spans if s["op"] is not None) / max(len(ops), 1)
            layer["trace.failed_spans"] = sum(1 for s in tracer.spans if s["failed"])
            layer.update(dict.fromkeys(TRACE_EXTRAS, 0.0))
            layer.update(workload.trace_extras(ops))
            result_metrics = {k: {"value": v, "unit": trace_unit(k)} for k, v in layer.items()}
            context["spans_file"] = tracer.dump(os.path.join(
                ROOT, ".bench_traces", f"{args.workload}-{args.seed}.jsonl"))
        print(json.dumps({"context": context}, default=str), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": result_metrics}), flush=True)
        return 0
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            spark.stop()
            from pyspark import SparkContext
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                proc = getattr(SparkContext._gateway, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def trace_unit(name: str) -> str:
    if name in TRACE_EXTRAS:
        return TRACE_EXTRAS[name]
    return _FIELD_UNITS[name.rsplit(".", 1)[1]]


if __name__ == "__main__":
    sys.exit(main())
