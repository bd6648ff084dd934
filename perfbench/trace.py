"""Spans recorded from the benchmark's own files.

A span has a name, start and end (epoch seconds), a parent span id and an
``op`` id shared by every span of one micro-batch or attach. Spans live in
memory and are written out once, when the run ends.

The untraced run never patches anything. The traced run replaces a few
eager public entry points of the package with wrappers (see
:meth:`Tracer.wrap`); lazy plan builders are not timed because their cost
lands in whichever action forces them."""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def add(self, name: str, start: float, end: float, parent: int | None,
            op) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, "op": op})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = self.add(name, 0.0, 0.0, parent, op)
        stack.append(sid)
        self.overhead_s += time.perf_counter() - t_in
        self.spans[sid]["start"] = time.time()
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, owner, attr: str, name: str, op_arg: int | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        every call; ``op_arg`` names the positional argument carrying the
        op id (a foreachBatch sink's ``batch_id``)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            op = args[op_arg] if op_arg is not None else None
            with self.span(name, op):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- Spark progress → spans ---------------------------------------------

    #: execution order of the durationMs phases inside one trigger
    PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets")

    def add_progress(self, progress: list) -> dict[int, int]:
        """One ``stream.trigger`` root span per data batch, with its
        ``durationMs`` phases laid end to end as children. Spans already
        recorded with the batch id as op and no parent (the sink call)
        become children of that batch's ``addBatch``. Returns batch id →
        root span id."""
        roots = {}
        for p in progress:
            d = p.durationMs
            if p.numInputRows == 0 or "addBatch" not in d:
                continue
            start = parse_ts(p.timestamp)
            root = self.add("stream.trigger", start,
                            start + d["triggerExecution"] / 1000.0, None,
                            p.batchId)
            roots[p.batchId] = root
            t = start
            add_batch = None
            for ph in self.PHASES:
                if ph in d:
                    sid = self.add(f"stream.{ph}", t, t + d[ph] / 1000.0,
                                   root, p.batchId)
                    t += d[ph] / 1000.0
                    if ph == "addBatch":
                        add_batch = sid
            for s in self.spans:
                if s["op"] == p.batchId and s["parent"] is None and s["id"] != root:
                    s["parent"] = add_batch
        return roots

    # -- analysis -----------------------------------------------------------

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the tree under ``root`` (the root
        included): a span's duration minus its children's durations."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            sid = todo.pop()
            s = self.spans[sid]
            kids = children.get(sid, [])
            dur = s["end"] - s["start"]
            own = dur - sum(self.spans[k]["end"] - self.spans[k]["start"]
                            for k in kids)
            out[s["name"]] = out.get(s["name"], 0.0) + own
            todo.extend(kids)
        return out


def parse_ts(iso: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601, UTC) → epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def split(tracer: Tracer, root: int, layers: dict[str, str]) -> dict[str, float]:
    """Per-layer self times of one op plus ``unaccounted``: the op's wall
    time minus everything attributed to a layer, so the parts always sum
    to the wall time. ``layers`` maps span name → layer metric name; span
    names not listed (the root, Spark's addBatch dispatch) fall into
    ``unaccounted``."""
    own = tracer.self_times(root)
    wall = tracer.spans[root]["end"] - tracer.spans[root]["start"]
    out: dict[str, float] = {}
    for span_name, layer in layers.items():
        if span_name in own:
            out[layer] = out.get(layer, 0.0) + own[span_name]
    out["unaccounted_s"] = wall - sum(out.values())
    out["wall"] = wall
    return out
