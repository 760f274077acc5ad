"""What every workload shares: the unit of measured work and the loop
contract the runner drives."""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field


@dataclass
class Unit:
    """One set-up plus one closed-loop run of the workload's work.

    ``ops`` are the per-operation latencies (LSN windows, triggers or
    query entries) in seconds; ``checks`` name each oracle comparison
    made outside the timer; ``facts`` carry sizes and counts the metrics
    are computed from."""

    setup_s: float
    work_s: float
    ops: list[float]
    attempted: int
    failed: int
    checks: dict[str, bool]
    facts: dict = field(default_factory=dict)


class Workload:
    """Base: ``warmup()`` once, then ``unit(i)`` until the run has measured
    its seconds. Units of one run see identical inputs."""

    def __init__(self, spark, work_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def work_span(self, i: int):
        """Benchmark-side span around the timed work of unit ``i``."""
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span("bench.work", {"unit": i})

    def warmup(self) -> None:
        raise NotImplementedError

    def unit(self, i: int) -> Unit:
        raise NotImplementedError
