"""The benchmark's workloads. Each is a class with the same members:

- ``name``; ``warmup_ops`` untimed operations before timing starts;
  ``nominal_op_s``, the steady cost of one operation on a 4-core machine,
  which turns ``--seconds`` into a fixed operation count;
- ``spans``: per-layer time metric -> the span it is the median of;
- ``setup(ctx)``; ``op(ctx, i) -> Sample`` for operation ``i`` (timed);
  ``check(ctx, sample) -> bool`` (untimed, called after every op);
  ``finish(ctx) -> bool`` (untimed, after the last op);
- ``layer_metrics(ctx, measured)``: the workload's own per-layer values
  over the measured operation indices.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any


@dataclass
class Sample:
    """One operation: ``latency_s`` is what the user waits for (message
    freshness, cycle time or pass time), ``busy_s`` the wall time the
    operation held the loop, ``rows`` the input rows it consumed."""

    latency_s: float
    busy_s: float
    rows: int
    payload: Any = None


def get(name: str):
    if name == "stream_ingest":
        from .stream_ingest import StreamIngest

        return StreamIngest()
    if name == "medallion_batch":
        from .medallion_batch import MedallionBatch

        return MedallionBatch()
    raise KeyError(name)


NAMES = ["stream_ingest", "medallion_batch"]
