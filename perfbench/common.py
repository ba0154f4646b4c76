"""Shared pieces of the two workloads."""

from __future__ import annotations

import os


def dir_bytes(root: str) -> int:
    """Bytes of every regular file under `root` (0 if it is absent)."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    """One workload: generate() writes the seeded inputs, seed() lays
    down the tables or indexes, op(i) runs one closed-loop step and
    returns (input rows accepted, failed checks), maintain() runs
    end-of-run maintenance (None when the workload has none), finish()
    checks the final state and sets live_rows. stored_bytes() and
    layer_ratios() feed the metrics."""

    name = ""
    op_span = "op"  # name of the span around one op

    def __init__(self, spark, work: str, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.live_rows = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def maintain(self) -> list[str] | None:
        return None
