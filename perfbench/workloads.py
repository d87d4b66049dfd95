"""The benchmark's workloads. Each is a sequence of parts run in order
within every pass, sharing one session:

- ``yelp_lakehouse`` — the write path: the Yelp medallion
  (``w_medallion``: 14 ``cli.run`` jobs) and then change batches
  streamed into a snapshot serving table (``w_cdc``).
- ``analytics_curation`` — the read and compute path: 16 catalog queries
  to a noop sink (``w_queries``) and then the LLM curation pipeline
  (``w_curation``).
"""

from __future__ import annotations

import statistics

from harness import Pass, describe
from w_cdc import Cdc
from w_curation import Curation
from w_medallion import Medallion
from w_queries import Queries

PARTS = {
    "yelp_lakehouse": (Medallion, Cdc),
    "analytics_curation": (Queries, Curation),
}


class Workload:
    def __init__(self, name: str, work: str, seed: int, tracer):
        self.name = name
        self.parts = [cls(work, seed, tracer) for cls in PARTS[name]]

    def _each(self, method: str, *args) -> None:
        for part in self.parts:
            if hasattr(part, method):
                getattr(part, method)(*args)

    @property
    def failures(self) -> list[str]:
        return [f for part in self.parts for f in part.failures]

    def generate(self) -> None:
        self._each("generate")

    def warmup(self, spark) -> None:
        self._each("warmup", spark)

    def prepare(self, spark, i: int) -> None:
        """Per-pass set-up that is not part of the pass (off the clock)."""
        self._each("prepare", spark, i)

    def run_pass(self, spark, p: Pass, i: int) -> None:
        self._each("run_pass", spark, p, i)

    def trace_hooks(self, tracer) -> None:
        self._each("trace_hooks", tracer)

    def rows_per_pass(self) -> int:
        return sum(part.rows_per_pass() for part in self.parts)

    def check(self, spark, first: bool) -> tuple[int, list[str]]:
        """Checks of the parts that check before the passes (``first``)
        or after them. A check that raises counts as one failed check."""
        attempted, failures = 0, []
        for part in self.parts:
            if getattr(part, "check_first", False) == first:
                try:
                    a, f = part.check(spark)
                except Exception as e:
                    a, f = 1, [f"{type(part).__name__} check: {describe(e)}"]
                attempted += a
                failures += f
        return attempted, failures

    def write_amp(self) -> float:
        """Median bytes a pass writes per input byte of the writing parts."""
        writers = [part for part in self.parts if hasattr(part, "write_base")]
        written = [sum(ws) for ws in zip(*(part.bytes_written for part in writers))]
        return statistics.median(written) / sum(part.write_base() for part in writers)

    def part_attr(self, attr: str):
        """The first part's ``attr`` (a per-layer figure only one part has)."""
        for part in self.parts:
            if hasattr(part, attr):
                return getattr(part, attr)
        return None
