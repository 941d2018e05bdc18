"""The benchmark's workloads: which query ids each runs, on which inputs.

Every id is materialized with a noop write. A run pays a fresh JVM's
set-up and cold pass, so the whole benchmark fits its time budget only
with a few seconds of query work per warm pass; each workload therefore
runs a subset of its family that keeps the family's dominant layer (see
NOTES.md for the sizes measured and the ids left out).
"""
from dataclasses import dataclass

from gen import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple          # opened during set-up
    ids: tuple
    sizes: Sizes
    jvm_flags: tuple = ()


WORKLOADS = {w.name: w for w in [
    Workload(
        # per-key Prophet-style fits over many series: the engine's core
        # path, where executor work (groupByKey.flatMapGroups) shows most
        name="forecast",
        tables=("events",),
        ids=("forecast_linear_trend", "forecast_prophet_like",
             "forecast_seasonal_naive"),
        sizes=Sizes(users=1_500),
    ),
    Workload(
        # iterative algorithms with a localCheckpoint per round over small
        # frontiers: driver- and scheduler-bound
        name="graph",
        tables=("lineitem", "orders", "events"),
        ids=("graph_connected_components", "graph_pagerank"),
        sizes=Sizes(),
        # Catalyst's driver-side code never finished its C2 warm-up within a
        # run: timed passes kept falling by ~25% over four passes, and over
        # ten seeds the median pass moved by 0.31 of itself with the host's
        # speed. With C1 only, passes are flat and that spread was 0.08-0.13.
        jvm_flags=("-XX:TieredStopAtLevel=1",),
    ),
]}
