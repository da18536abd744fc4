"""Driver-side spans and the wrappers that record them.

The benchmark times calls into the engine's public functions by wrapping
them at run time: ``Patcher`` swaps a module or class attribute for a
timing wrapper and restores the original afterwards. The wrappers add no
Spark action and change no plan — they read clocks, parquet footers and
file sizes on the driver only — so a traced run executes the shipped plan.

Lazy layers are timed at the action that forces them. ``_load_state`` only
builds a plan, so the state reconstruct cost lands in the first
``materialize`` inside ``cluster_rounds`` (``state.lookup``); the merge is
forced by the final ``count()`` in batch and by the delta-rows write in
streaming (``clustering.merge``).
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    unit: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. Spans nest by call stack; ``unit`` tags
    every span with the micro-batch or repetition it belongs to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, unit: int | None = None, **attrs):
        parent = self.current()
        if unit is None and parent is not None:
            unit = parent.unit
        sp = Span(
            id=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.id if parent is not None else None,
            unit=unit,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall minus the part of its interval its children cover."""
    covered = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None and c.end > span.start and c.start < span.end
    ]
    return span.wall - interval_union(covered)


def parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a local parquet directory or file, from footers and
    file sizes — a driver-side metadata read, no Spark job."""
    import pyarrow.parquet as pq

    if path.startswith("file:"):
        path = path[len("file:") :]
        while path.startswith("//"):
            path = path[1:]
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files)


class Patcher:
    """Swap attributes for wrappers; ``restore`` puts every original back."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make_wrapper) -> None:
        orig = getattr(owner, attr)
        wrapper = functools.wraps(orig)(make_wrapper(orig))
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def _timed(tracer: Tracer, name: str):
    def make(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        return wrapper

    return make


def install_operator_wrappers(
    tracer: Tracer, patcher: Patcher, first_materialize: str
) -> None:
    """Spans around the clustering operators shared by batch and stream.

    ``first_materialize`` names the first ``materialize`` inside
    ``cluster_rounds``: it forces the prepare stage in batch and the state
    lookup in a stream micro-batch."""
    from mapping_analysis_spark import util
    from mapping_analysis_spark.operators import clustering, graph

    patcher.wrap(clustering, "cluster_rounds", _timed(tracer, "cluster_rounds"))
    patcher.wrap(clustering, "candidate_components", _timed(tracer, "candidates"))
    patcher.wrap(graph, "connected_components", _timed(tracer, "graph.cc"))

    def make_luf(orig):
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if cur is not None and cur.name == "graph.cc":
                cur.attrs["local"] = 1
            return orig(*args, **kwargs)

        return wrapper

    patcher.wrap(graph, "_local_union_find", make_luf)

    def make_materialize(orig):
        def wrapper(df, path=None):
            parent = tracer.current()
            name = "materialize"
            if parent is not None and parent.name == "cluster_rounds":
                if not any(c.attrs.get("materialize") for c in tracer.children(parent)):
                    name = first_materialize
            elif parent is not None and parent.name == "candidates":
                name = "blocking.score"
            with tracer.span(name, materialize=True) as sp:
                out = orig(df, path)
                t = time.time()
                rows, nbytes = 0, 0
                for f in out.inputFiles():
                    r, b = parquet_stats(f)
                    rows, nbytes = rows + r, nbytes + b
                sp.attrs.update(rows=rows, bytes=nbytes)
                sp.attrs["trace_s"] = time.time() - t
            if parent is not None and parent.name == "graph.cc":
                # the symmetrized edge list: two rows per undirected edge
                parent.attrs.setdefault("edges", rows // 2)
            return out

        return wrapper

    patcher.wrap(util, "materialize", make_materialize)


def install_stream_wrappers(tracer: Tracer, patcher: Patcher, job) -> None:
    """Spans around one ``StreamingERJob``'s state store, sink and lineage."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mapping_analysis_spark.streaming.engine import StreamingERJob

    cls = StreamingERJob

    def make_batch(orig):
        def wrapper(self, batch_df, batch_id):
            with tracer.span("batch", unit=int(batch_id)):
                return orig(self, batch_df, batch_id)

        return wrapper

    def make_load(orig):
        def wrapper(self, before_batch):
            with tracer.span("state.load_plan") as sp:
                t = time.time()
                entries = [(b, k) for b, k in self._state_entries() if b < before_batch]
                fulls = [b for b, k in entries if k == "full"]
                sp.attrs["chain_len"] = sum(
                    1 for b, k in entries if k == "delta" and fulls and b > fulls[-1]
                )
                sp.attrs["trace_s"] = time.time() - t
                return orig(self, before_batch)

        return wrapper

    def make_delta(orig):
        def wrapper(self, rows, tombstone_ids, batch_id):
            with tracer.span("state.delta_write") as sp:
                out = orig(self, rows, tombstone_ids, batch_id)
                t = time.time()
                droot = self.fs.join(self.cfg.state_dir, f"d={batch_id}")
                sp.attrs["tombstones"] = parquet_stats(self.fs.join(droot, "removed"))[0]
                prior = [(b, k) for b, k in self._state_entries() if b < batch_id]
                sp.attrs["prior_rows"] = (
                    self._marker_total(*prior[-1]) if prior else 0
                ) or 0
                sp.attrs["trace_s"] = time.time() - t
                return out

        return wrapper

    def make_checked(orig):
        def wrapper(self, df, path):
            parent = tracer.current()
            name = "state.write"
            if parent is not None and parent.name == "state.delta_write":
                first = not tracer.children(parent)
                name = "state.tombstone_write" if first else "clustering.merge"
            with tracer.span(name):
                return orig(self, df, path)

        return wrapper

    patcher.wrap(cls, "process_batch", make_batch)
    patcher.wrap(cls, "_load_state", make_load)
    patcher.wrap(cls, "_write_delta", make_delta)
    patcher.wrap(cls, "_write_checked", make_checked)
    patcher.wrap(cls, "_write_full", _timed(tracer, "state.compact"))
    patcher.wrap(cls, "_commit_state", _timed(tracer, "state.commit"))
    # the sink publish is a filesystem copy through the job's own fs object
    patcher.wrap(job.fs, "copytree", _timed(tracer, "sink.publish"))

    lineage_dir = job.cfg.lineage_dir

    def make_parquet(orig):
        def wrapper(self, path, *args, **kwargs):
            if isinstance(path, str) and path.startswith(lineage_dir):
                with tracer.span("lineage.write"):
                    return orig(self, path, *args, **kwargs)
            return orig(self, path, *args, **kwargs)

        return wrapper

    patcher.wrap(DataFrameWriter, "parquet", make_parquet)


def add_stream_prepare_spans(tracer: Tracer) -> None:
    """Stream ``prepare``: from ``process_batch`` start to its first child
    span (the scan, watermark filter and fingerprint action precede the
    state load)."""
    for batch in tracer.named("batch"):
        kids = sorted(tracer.children(batch), key=lambda s: s.start)
        end = kids[0].start if kids else batch.end
        tracer.spans.append(
            Span(
                id=len(tracer.spans),
                name="prepare",
                start=batch.start,
                end=end,
                parent=batch.id,
                unit=batch.unit,
            )
        )
