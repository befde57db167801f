"""The closed-loop call recorder shared by the workloads.

A workload performs its cycle through ``Calls``: each call into the
program is timed, and in a traced run it also gets a span (and so a
job-id range) named after the layer it enters.  Untraced runs pay for
nothing but two clock reads per call.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from perfbench.meter import Tracer


@dataclass
class Call:
    kind: str
    wall: float
    read: bool
    cycle: int


class Calls:
    """Times calls; spans them when the run is traced."""

    def __init__(self, tracer: Tracer | None):
        self.tracer = tracer
        self.records: list[Call] = []
        self.cycle = 0

    def span(self, name: str, **attrs):
        """A span in a traced run, nothing otherwise."""
        if self.tracer is None:
            return nullcontext(None)
        return self.tracer.span(name, self.cycle, **attrs)

    @contextmanager
    def timed(self, kind: str, layer: str, read: bool = False):
        """Time one call of ``kind`` into ``layer``."""
        with self.span(layer) as sp:
            t0 = time.perf_counter()
            yield sp
            wall = time.perf_counter() - t0
        self.records.append(Call(kind, wall, read, self.cycle))

    def walls(self, kind: str | None = None,
              read: bool | None = None) -> list[float]:
        return [c.wall for c in self.records
                if (kind is None or c.kind == kind)
                and (read is None or c.read == read)]
