"""binlog_tail: an open-loop live tail into the global binlog.

One events file lands atomically every ``PERIOD`` seconds at a fixed
offered rate; each event's ``ts`` is the time its file was due. Files
land for ``RAMP`` seconds before the timed window opens; only files due
inside the window count. The
stream is what ``run_binlog_pipeline(wire_dir=...)`` composes
(``source.cdc_stream`` → ``with_stream_metrics`` → ``BinlogSink`` with
incremental wire export), started under the default processing-time
trigger instead of the availableNow trigger that function fixes.

Commit latency needs no extra action on the batch: files are consumed
whole and in landing order, so the per-batch ``n_events`` that
``with_stream_metrics`` already observes maps every file to the batch
that made it durable, and that batch's end is its progress timestamp plus
``triggerExecution``.

After the window the stream is drained and stopped. The traced run then
has a replica with pre-loaded state subscribe to the committed global
binlog (``source.read_binlog``) and apply it one tail micro-batch per
``ReplicaTableSink`` call: the applier layer, traced and checked, outside
the timed window. The untraced runs skip it; it moves no end-to-end
metric."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench import checks, gen, layers
from perfbench.common import (process_tree, quantile, reset_peak_rss,
                              tree_peak_rss_mb)
from perfbench.trace import parse_ts

#: offered events per second: a fifth of the 5000/s of the first sizing
#: probe. At 5000/s a 4-vCPU VM left 45,000 of 50,000 events uncommitted at
#: the end of a 10 s window; at 1000/s it keeps up (3-4 s triggers of
#: 2,500-4,000 events), so latency measures freshness, not a growing queue
RATE = 1000
#: seconds between file landings: 40 latency samples in a 10 s window
PERIOD = 0.25
KEYS = 100_000  # uniform user_id population
WARMUP_FILES = 1  # the seed file: drained as the cold batch 0 before the window
#: seconds of offered load before the window opens, untimed: about one
#: trigger, so the window opens on the stream's steady cycle. From an idle
#: stream a file's latency is the sum of the first triggers minus its due
#: offset, which doubles their run-to-run spread
RAMP = 4.0
#: the stream is set up this many times, each on a fresh sink and
#: checkpoint; the last keeps running, and set-up time counts the median
STARTS = 2
#: traced run: events applied to the replica before the tail's batches,
#: enough for ReplicaTableSink to size its state table at 4 buckets
PRELOAD = 200_000


def run(ctx) -> dict:
    from polardbx_cdc_spark import binlog_wire
    from polardbx_cdc_spark.streaming import pipeline, source

    spark, tr = ctx.spark, ctx.tracer
    per_file = int(RATE * PERIOD)
    n_ramp = int(round(RAMP / PERIOD))
    n_timed = max(1, int(round(ctx.seconds / PERIOD)))
    src = os.path.join(ctx.work, "src")
    os.makedirs(os.path.join(src, "events.parquet"))

    t = time.perf_counter()
    # every input is drawn up front; only ts is stamped when a file lands
    tables = [gen.events(ctx.rng, k * per_file, per_file, 0,
                         ctx.rng.integers(0, KEYS, per_file))
              for k in range(WARMUP_FILES + n_ramp + n_timed)]

    def land(k: int, dirname: str) -> float:
        due = time.time() if k < WARMUP_FILES else t0 + (k - WARMUP_FILES) * PERIOD
        ts = gen.pa.array(np.full(per_file, int(due * 1e6)), gen.pa.timestamp("us"))
        gen.write(tables[k].set_column(1, "ts", ts),
                  os.path.join(dirname, f"f{k:06d}.parquet"))
        return due

    # the source reads its schema from <src>/events.parquet and stages its
    # link directory when the stream is DEFINED; files landing later must
    # go straight into that staged directory to be listed
    land(0, os.path.join(src, "events.parquet"))
    stream_dir = source._as_stream_dir(src, "events")
    ctx.clock.lap("setup.generate_s", t)
    landed: list[tuple[float, float]] = []  # (due, landed) per ramp/timed file
    disorder: list[str] = []

    q, starts = None, []
    try:
        for i in range(STARTS):
            if q is not None:
                q.stop()
                disorder += sink.disorder_errors
            out = os.path.join(ctx.work, f"sink{i}")
            wire = os.path.join(ctx.work, f"wire{i}")
            t = time.perf_counter()
            sink = pipeline.BinlogSink(out, wire_dir=wire)
            sink.recover(spark)
            observed = pipeline.with_stream_metrics(source.cdc_stream(spark, src))
            q = (observed.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", os.path.join(ctx.work, f"ckpt{i}"))
                 .start())
            q.processAllAvailable()
            starts.append(time.perf_counter() - t)
        ctx.repeated_setup("setup.warmup_s", starts)
        ctx.setup_done()
        if tr is not None:  # looked up per call, so the running query sees them
            tr.wrap(pipeline.BinlogSink, "__call__", "binlog_sink.call", op_arg=2)
            tr.wrap(binlog_wire, "export_wire_files", "wire.export")

        t0 = time.time() + 0.05  # the ramp's first file is due
        window_end = t0 + (n_ramp + n_timed) * PERIOD

        def generate():
            for k in range(WARMUP_FILES, WARMUP_FILES + n_ramp + n_timed):
                delay = t0 + (k - WARMUP_FILES) * PERIOD - time.time()
                if delay > 0:
                    time.sleep(delay)
                due = land(k, stream_dir)
                landed.append((due, time.time()))

        reset_peak_rss(process_tree())
        g = threading.Thread(target=generate, name="perfbench-generator")
        g.start()
        g.join()
        rss = tree_peak_rss_mb()
        q.processAllAvailable()  # drain what landed near the window end
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        if q is not None:
            q.stop()
        if tr is not None:
            tr.unwrap()

    # -- map every timed file to the batch that committed it ----------------
    failures = [f"BinlogSink disorder: {m}" for m in disorder + sink.disorder_errors]
    if len(landed) != n_ramp + n_timed:
        failures.append(f"the generator landed {len(landed)} of "
                        f"{n_ramp + n_timed} files")
    ends, cum = [], 0  # (cumulative events, batch end) per data batch
    for p in progress:
        cum += p.observedMetrics["cdc_metrics"]["n_events"]
        ends.append((cum, parse_ts(p.timestamp)
                     + p.durationMs["triggerExecution"] / 1000.0))
    if any(c % per_file for c, _ in ends):
        failures.append("a file was split across micro-batches")
    lat, timed = [], []
    for i, (due, _) in enumerate(landed):
        need = (WARMUP_FILES + i + 1) * per_file
        b = next((j for j, (c, _) in enumerate(ends) if c >= need), None)
        if b is None:
            failures.append(f"file {WARMUP_FILES + i} never committed")
            continue
        if i < n_ramp:
            continue
        lat.append(ends[b][1] - due)
        if b not in timed:
            timed.append(b)
    done_by_end = max((c for c, e in ends if e <= window_end), default=0)
    landed_by_end = sum(1 for _, at in landed if at <= window_end)
    backlog = max(0, (WARMUP_FILES + landed_by_end) * per_file - done_by_end)

    # -- reference checks (outside every timed region) -----------------------
    failures += checks.binlog_tail(out, wire, stream_dir, committed=cum)

    steady = [progress[b] for b in timed]
    res = {
        "attempted": len(steady),
        "failures": failures,
        "e2e": {
            "latency_p50_s": quantile(lat, 0.5),
            "latency_p75_s": quantile(lat, 0.75),
            # the Python side: the foreachBatch sink runs in the driver,
            # the wire encode in the workers (applyInPandas). The JVM's
            # RSS follows G1's heap sizing, 1.4-2.4 GB run to run at the
            # same input, so it is reported per layer only
            "peak_rss_mb": rss["driver"] + rss["workers"],
        },
        "report": {
            "commit_latency_p50_s": (quantile(lat, 0.5), "s"),
            "commit_latency_p75_s": (quantile(lat, 0.75), "s"),
            "commit_latency_samples": (len(lat) * per_file, "events"),
            "commit_latency_files": (len(lat), "files"),
            "backlog_end_events": (backlog, "events"),
            "steady_batches": (len(steady), "batches"),
            **{f"peak_rss_{k}_mb": (v, "MB") for k, v in rss.items()},
        },
    }
    if tr is not None:
        replica = replica_apply(ctx, out, stream_dir, [c for c, _ in ends])
        failures += replica.pop("failures")
        res["layers"] = layers.stream(tr, progress, steady)
        res["layers"].update({
            "gen.late_p99_s": quantile([a - d for d, a in landed], 0.99),
            "tail.backlog_end_events": backlog,
            "binlog_sink.parquet_files": sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(out) for f in fs),
            **layers.wire_dir(wire),
            **layers.rss(rss),
            **replica,
        })
        keys = np.concatenate([t.column("user_id").to_numpy() for t in tables])
        res["layers"]["apply.top_key_share"] = np.bincount(keys).max() / len(keys)
        res["layers"]["apply.distinct_key_share"] = len(np.unique(keys)) / len(keys)
    return res


def replica_apply(ctx, sink_dir: str, stream_dir: str,
                  batch_ends: list[int]) -> dict:
    """Traced run only. A replica holding ``PRELOAD`` events of earlier
    state subscribes to the committed global binlog (``read_binlog`` from
    the previous batch's last TSO) and applies it one tail micro-batch per
    ``ReplicaTableSink`` call, so every reported call merges into existing
    keyed state. The final state is checked against the last image of
    every generated event; the applier layer is the mean over the tail's
    calls. ``batch_ends`` is the committed event count after each batch."""
    import glob

    from pyspark.sql import functions as F

    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.streaming.pipeline import ReplicaTableSink
    from polardbx_cdc_spark.streaming.source import read_binlog

    spark = ctx.spark
    pre = os.path.join(ctx.work, "preload")
    os.makedirs(pre)
    pre_file = os.path.join(pre, "events.parquet")
    # 2024 event times: the whole preload precedes the tail in TSO order;
    # ids start past the tail's so no TSO repeats
    gen.write(gen.events(ctx.rng, batch_ends[-1], PRELOAD,
                         gen.backlog_ts(0, PRELOAD),
                         ctx.rng.integers(0, KEYS, PRELOAD)), pre_file)
    sink = ReplicaTableSink(os.path.join(ctx.work, "replica"))
    sink(derive_cdc_stream(spark, pre), 0)

    last = {r["offset"]: r["tso"] for r in spark.read.parquet(sink_dir)
            .filter(F.col("offset").isin([n - 1 for n in batch_ends]))
            .select("offset", "tso").collect()}
    calls, touched, lo = [], [], ""
    ctx.tracer.wrap(ReplicaTableSink, "__call__", "replica_sink.call")
    try:
        for b, n in enumerate(batch_ends):
            hi = last[n - 1]
            with ctx.span("replica.apply", op=f"replica-{b}") as root:
                sink(read_binlog(spark, sink_dir, from_tso=lo)
                     .filter(F.col("tso") <= hi), b + 1)
            calls.append(ctx.tracer.self_times(root)["replica_sink.call"])
            touched.append(len(sink.last_rewritten_buckets) / sink.n_buckets)
            lo = hi
    finally:
        ctx.tracer.unwrap()
    state = sink.current(spark).toPandas()
    return {
        "failures": checks.replica_state(
            state, [pre_file] + glob.glob(os.path.join(stream_dir, "*.parquet"))),
        "replica_sink.call_s": float(np.mean(calls)),
        "replica_sink.touched_bucket_share": float(np.mean(touched)),
        "replica_sink.n_buckets": sink.n_buckets,
        "replica_sink.state_rows": len(state),
        "replica_sink.state_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(sink.table_dir) for f in fs
            if f.endswith(".parquet")),
    }
