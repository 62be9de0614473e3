"""Types shared by the workloads."""

from __future__ import annotations

import sys
from dataclasses import dataclass


@dataclass
class Op:
    name: str
    start: float
    end: float
    ok: bool
    kind: str = "op"      # "op" or "read" (elt_incremental's fresh reads)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Workload:
    """One workload of the benchmark. ``setup`` is timed as part of
    ``setup_s``; ``run`` is the timed phase; ``check`` runs after it and
    returns how many ops produced a wrong result."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> int:
        raise NotImplementedError

    def trace_extras(self, ops: list[Op]) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass
