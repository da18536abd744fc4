"""Per-layer metrics of a traced pass.

Every value is the median over the pass's measured units (repetitions in
batch, micro-batches in stream) of that unit's total, taken over the units
where the layer ran; a layer that never ran reads 0. State-store sizes are
the figures after the last batch.
"""

from __future__ import annotations

import statistics

from . import eventlog
from .trace import Span, Tracer, self_time

# per-layer wall metric → span name
WALLS = {
    "prepare.wall_s": "prepare",
    "blocking.score_wall_s": "blocking.score",
    "graph.cc_wall_s": "graph.cc",
    "clustering.merge_wall_s": "clustering.merge",
    "state.load_plan_s": "state.load_plan",
    "state.lookup_s": "state.lookup",
    "state.delta_write_s": "state.delta_write",
    "state.compact_s": "state.compact",
    "state.commit_s": "state.commit",
    "sink.publish_s": "sink.publish",
    "lineage.write_s": "lineage.write",
}
# spans with Spark jobs: each gets the scheduler statistics below
SCHED_SPANS = (
    "prepare",
    "state.lookup",
    "blocking.score",
    "graph.cc",
    "clustering.merge",
    "state.tombstone_write",
    "state.compact",
)
SCHED_STATS = {
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "driver_gap_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
}
LOOKUP_CURVE = 2  # state.lookup_s.chain0, chain1: one compaction cycle

UNITS = {name: "s" for name in WALLS}
UNITS.update(
    {f"{s}.{k}": u for s in SCHED_SPANS for k, u in SCHED_STATS.items()}
)
UNITS.update(
    {
        "session.start_s": "s",
        "prepare.rows": "count",
        "prepare.fingerprinted": "count",
        "blocking.pairs_scored": "count",
        "blocking.pairs_linked": "count",
        "blocking.link_ratio": "ratio",
        "graph.cc_edges": "count",
        "graph.cc_local": "ratio",
        "materialize.calls": "count",
        "materialize.bytes": "bytes",
        "state.rows": "count",
        "state.bytes": "bytes",
        "state.chain_len_max": "count",
        "state.touched_ratio": "ratio",
        "sss.trigger_s": "s",
        "sss.add_batch_s": "s",
        "sss.overhead_s": "s",
        "batch.unattributed_s": "s",
        "trace.overhead_s": "s",
    }
)
UNITS.update({f"state.lookup_s.chain{k}": "s" for k in range(LOOKUP_CURVE)})


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _per_unit(spans: list[Span], units: list[int], value) -> list[float]:
    """``value(spans of one unit)`` for each unit that has such spans."""
    out = []
    for u in units:
        mine = [s for s in spans if s.unit == u]
        if mine:
            out.append(value(mine))
    return out


def layer_metrics(
    tracer: Tracer,
    units: list[int],
    progress: list[dict],
    state: dict,
    jobs: dict[int, eventlog.Job],
) -> tuple[dict[str, float], list[dict]]:
    """(metric → value, per-unit breakdown rows) for one traced pass."""
    spans = tracer.spans
    named: dict[str, list[Span]] = {}
    for s in spans:
        if s.unit in units:
            named.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}
    for metric, name in WALLS.items():
        out[metric] = _median(
            _per_unit(named.get(name, []), units, lambda ss: sum(s.wall for s in ss))
        )
    by_span = eventlog.assign(spans, jobs)
    for name in SCHED_SPANS:
        per_unit = _per_unit(
            named.get(name, []),
            units,
            lambda ss: [eventlog.span_stats(s, spans, jobs, by_span) for s in ss],
        )
        for stat in SCHED_STATS:
            out[f"{name}.{stat}"] = _median([sum(d[stat] for d in u) for u in per_unit])

    def attr_sum(name, key):
        return _per_unit(
            named.get(name, []), units, lambda ss: sum(s.attrs.get(key, 0) for s in ss)
        )

    batches = named.get("batch", [])
    if progress:
        # stream: input rows per micro-batch from the engine's progress log
        rows = [p["rows"] for p in progress if p["batch"] in units]
        out["prepare.rows"] = _median(rows)
        out["prepare.fingerprinted"] = 0.0  # observed inside the engine only
    else:
        out["prepare.rows"] = _median(attr_sum("batch", "rows"))
        out["prepare.fingerprinted"] = _median(attr_sum("batch", "fingerprinted"))
    scored = attr_sum("blocking.score", "rows")
    linked = attr_sum("graph.cc", "edges")
    out["blocking.pairs_scored"] = _median(scored)
    out["blocking.pairs_linked"] = _median(linked)
    out["blocking.link_ratio"] = _median(
        [lk / sc for lk, sc in zip(linked, scored) if sc]
    )
    out["graph.cc_edges"] = out["blocking.pairs_linked"]
    out["graph.cc_local"] = _median(
        _per_unit(
            named.get("graph.cc", []),
            units,
            lambda ss: sum(s.attrs.get("local", 0) for s in ss) / len(ss),
        )
    )
    mats = [s for s in spans if s.unit in units and s.attrs.get("materialize")]
    out["materialize.calls"] = _median(_per_unit(mats, units, len))
    out["materialize.bytes"] = _median(
        _per_unit(mats, units, lambda ss: sum(s.attrs["bytes"] for s in ss))
    )
    out["state.rows"] = float(state.get("rows", 0))
    out["state.bytes"] = float(state.get("bytes", 0))
    plans = named.get("state.load_plan", [])
    out["state.chain_len_max"] = float(
        max((s.attrs["chain_len"] for s in plans), default=0)
    )
    out["state.touched_ratio"] = _median(
        [
            s.attrs["tombstones"] / s.attrs["prior_rows"]
            for s in named.get("state.delta_write", [])
            if s.attrs.get("prior_rows")
        ]
    )
    measured = [p for p in progress if p["batch"] in units]
    out["sss.trigger_s"] = _median([p["trigger_s"] for p in measured])
    out["sss.add_batch_s"] = _median([p["add_batch_s"] for p in measured])
    out["sss.overhead_s"] = _median(
        [p["trigger_s"] - p["add_batch_s"] for p in measured]
    )
    out["batch.unattributed_s"] = _median(
        [self_time(b, tracer.children(b)) for b in batches]
    )
    curve = {}
    lookups = {s.unit: s.wall for s in named.get("state.lookup", [])}
    for s in plans:
        if s.unit in lookups:
            curve.setdefault(s.attrs["chain_len"], []).append(lookups[s.unit])
    for k in range(LOOKUP_CURVE):
        out[f"state.lookup_s.chain{k}"] = _median(curve.get(k, []))
    # driver time the wrappers spent on their own footer and listing reads
    out["trace.overhead_s"] = sum(
        s.attrs.get("trace_s", 0.0) for s in spans if s.unit in units
    ) / max(1, len(units))

    breakdown = []
    for b in sorted(batches, key=lambda s: s.unit):
        row = {"unit": b.unit, "wall_s": b.wall, "unattributed_s": self_time(b, tracer.children(b))}
        for c in tracer.children(b):
            row[c.name] = row.get(c.name, 0.0) + c.wall
        for s in plans:
            if s.unit == b.unit:
                row["chain_len"] = s.attrs["chain_len"]
        if b.unit in lookups:
            row["state.lookup"] = lookups[b.unit]
        breakdown.append(row)
    return out, breakdown
