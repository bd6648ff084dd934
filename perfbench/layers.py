"""Per-layer metrics of a traced run.

Every split below is computed per micro-batch or attach with
``trace.split``, so that op's layer self times plus ``unaccounted`` equal
its wall time. The reported value of a split component is its mean over
the timed ops; means (unlike medians) keep that sum across the report."""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench.trace import Tracer, split

#: span name → layer metric, for a micro-batch. The trigger's own
#: remainder and every durationMs phase but addBatch are Spark's engine
#: work (offsets, WAL, planning); addBatch's remainder beyond the sink
#: call (foreachBatch dispatch) stays unaccounted.
STREAM_LAYERS = {
    "stream.trigger": "stream.engine_s",
    "stream.latestOffset": "stream.engine_s",
    "stream.walCommit": "stream.engine_s",
    "stream.getBatch": "stream.engine_s",
    "stream.queryPlanning": "stream.engine_s",
    "stream.commitOffsets": "stream.engine_s",
    "binlog_sink.call": "binlog_sink.call_s",
    "wire.export": "wire.export_s",
}


def mean_splits(splits: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for s in splits for k in s}
    return {k: float(np.mean([s.get(k, 0.0) for s in splits])) for k in keys}


def stream(tr: Tracer, progress: list, steady: list) -> dict:
    """Per-batch engine/sink split of the timed batches, plus Spark's own
    phase totals (``stream.add_batch_s`` is the whole addBatch phase,
    sink included)."""
    roots = tr.add_progress(progress)
    splits = [split(tr, roots[p.batchId], STREAM_LAYERS) for p in steady]
    out = mean_splits(splits)
    out["op.wall_s"] = out.pop("wall")
    out["stream.trigger_s"] = out["op.wall_s"]
    out["stream.add_batch_s"] = float(np.mean(
        [p.durationMs["addBatch"] / 1000.0 for p in steady]))
    out["stream.batch_events"] = float(np.mean(
        [p.numInputRows for p in steady]))
    export = [s.get("wire.export_s", 0.0) for s in splits]
    out["wire.export_s_slope"] = (
        float(np.polyfit(np.arange(len(export)), export, 1)[0])
        if len(export) > 1 else 0.0)
    out["trace.splits"] = splits
    return out


def wire_dir(wire: str) -> dict:
    """Wire files rendered, their events (the export manifest's count),
    bytes, and bytes per event."""
    with open(os.path.join(wire, "_manifest.json")) as fh:
        events = sum(json.load(fh).values())
    files = [f for f in os.listdir(wire) if f.startswith("binlog.")]
    n_bytes = sum(os.path.getsize(os.path.join(wire, f)) for f in files)
    return {"wire.files_rendered": len(files),
            "wire.backlog_events": events,
            "wire.backlog_bytes": n_bytes,
            "wire.bytes_per_event": n_bytes / max(events, 1)}


def rss(peaks: dict[str, float]) -> dict:
    """Peak RSS per process group, from ``common.tree_peak_rss_mb``."""
    return {f"rss.{part}_mb": peaks[part] for part in ("driver", "jvm", "workers")}
