"""Host context recorded with every result: ``bench.py``'s three host
canaries (its own functions, on a fixed-seed lineitem so every run
scans the same bytes), cores, driver memory, shuffle partitions,
library versions and the commit."""

from __future__ import annotations

import os
import platform
import subprocess

import numpy as np

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CANARY_SEED = 0


def _commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def context(spark, work: str) -> dict:
    import pyarrow
    import pyspark

    import bench
    canary_dir = os.path.join(work, "canary")
    rng = np.random.default_rng(CANARY_SEED)
    gen.write_tables({"lineitem": gen.lineitem(rng, gen.SIZES["lineitem"])}, canary_dir)
    conf = spark.sparkContext.getConf()
    return {
        "canary": {
            "python_loop_sec": bench._python_loop_canary(),
            "spark_fixed_job_sec": bench._spark_fixed_job_canary(spark),
            "scan_lineitem_sec": bench._scan_canary(spark, canary_dir),
        },
        "cores": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "commit": _commit(),
    }
