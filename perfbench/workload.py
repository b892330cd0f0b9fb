"""What run.py asks of a workload; the defaults suit a workload whose
layers all run inside its timed operation."""

from __future__ import annotations

import time
from contextlib import nullcontext


class Workload:
    #: Sheet cells read or written per operation (0: not a sheet workload).
    cells = 0

    def prepare(self) -> float:
        """Build inputs that the checkout keeps between runs; returns the
        seconds spent, which set-up time leaves out."""
        return 0.0

    def setup(self) -> None:
        """Generate the inputs from the seed and hand them to the program."""

    def expected(self):
        """The reference result, computed from the generated inputs."""
        return None

    def op(self, tracer) -> tuple[float, object]:
        """One timed operation: (seconds, result)."""
        raise NotImplementedError

    def warm_up(self, tracer, expected) -> tuple[float, list[str]]:
        """The untimed, checked warm-up operation: (seconds of
        benchmark-only work to leave out of set-up time, problems)."""
        _, result = self.op(tracer)
        t0 = time.perf_counter()
        problems, _ = self.check(result, expected)
        return time.perf_counter() - t0, problems

    def check(self, result, expected) -> tuple[list[str], dict[str, float]]:
        """(problems, per-op layer counts) for one operation's output."""
        return [], {}

    def instrument(self, tracer):
        """Context in which calls made inside the program are timed."""
        return nullcontext()

    def probe(self, tracer) -> dict[str, float]:
        """After a traced operation: in-process calls into the layers the
        operation ran in Spark workers, on the same inputs."""
        return {}

    def derived(self, layer: dict[str, float]) -> dict[str, float]:
        """Layer metrics computed from other layer metrics."""
        return {}
