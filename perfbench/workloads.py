"""The benchmark's workloads: which operations each one runs.

An operation is one call a pipeline runner would make: a declared
query from ``pipz_spark.queries.QUERIES``, a depth-sweep point that
calls ``datapipe.pagerank`` / ``datapipe.label_propagation`` directly,
or a ``stream_*`` rig. Every operation builds a DataFrame; the
benchmark lands it in the no-op sink (timed passes) or collects it for
the output check (first warm-up pass).

The lists are fixed: every run executes each operation the same number
of times, and the seed only permutes the order. README.md says why
each workload holds what it holds.
"""

from __future__ import annotations

from dataclasses import dataclass

# a declared graph query whose build() fires most of its jobs itself
GRAPH_QUERIES = ("dp_kcore",)

# (function, rounds): pagerank / label_propagation called directly on
# the input frames of dp_pagerank / dp_label_prop
DEPTH_SWEEP = (
    ("pagerank", 1),
    ("pagerank", 4),
    ("label_propagation", 1),
    ("label_propagation", 2),
)

STREAM_RIGS = (
    "stream_events_hourly_window",
    "stream_events_dedup",
    "stream_events_join",
    "stream_hll_users",
)


@dataclass(frozen=True)
class Op:
    """One operation. ``kind`` is "query" (a declared query, batch or
    rig) or "sweep" (``fn`` called directly at ``rounds``)."""

    name: str
    kind: str = "query"
    fn: str = ""
    rounds: int = 0


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    # nominal seconds of one warm pass on a 4-core host; a run makes
    # round(seconds / pass_s) timed passes, at least one
    pass_s: float
    # untimed passes before the timed ones, the first of them collected
    # for the output check; all billed to setup_s
    warm_passes: int = 1
    concurrent: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "graph_rounds",
            tuple(Op(n) for n in GRAPH_QUERIES)
            + tuple(Op(f"sweep_{fn}_{k}", "sweep", fn, k) for fn, k in DEPTH_SWEEP),
            pass_s=9.0,
            warm_passes=2,
        ),
        Workload(
            "stream_replay", tuple(Op(n) for n in STREAM_RIGS), pass_s=8.0, concurrent=True
        ),
    )
}
