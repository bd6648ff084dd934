"""replica_catchup: a replica attaching after an outage, in a closed loop.

Set-up renders a fixed seeded backlog into wire files through
``BinlogSink(wire_dir=...)`` (which calls ``export_wire_files``) and
starts one ``MySQLDumpServer`` over them. Each operation is one full
attach, one at a time: ``binlog_dump_gtid_fetch`` with an empty executed
set → ``dump_server.spool_segments`` → a ``binaryFile`` scan decoded by
``binlog_to_events`` → the aggregate ``cdc_dump_attach_decode`` is graded
on. The streaming source and both sinks are not on this path."""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

from perfbench import checks, gen, layers
from perfbench.common import (peak_rss_mb, process_tree, quantile,
                              reset_peak_rss, tree_peak_rss_mb)

#: backlog size: about three attaches fit in a 10 s window on a 4-vCPU VM
#: (3.3-3.9 s each), and the fetched blob (10.8 MB, held whole by the
#: driver) is about a tenth of the driver's peak RSS
EVENTS = 100_000
KEYS = 100_000  # uniform user_id population
#: spool segment size, the graded attach query's: 11 segments for the
#: backlog, so the decode fans out over every core
SEG_LIMIT = 1 << 20
MIN_ATTACHES = 3
#: the render is set up this many times, on fresh directories; set-up time
#: counts the median
RENDERS = 2


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from polardbx_cdc_spark import binlog_wire
    from polardbx_cdc_spark import dump_server as DS
    from polardbx_cdc_spark import mysql_dump as MD
    from polardbx_cdc_spark.model import derive_cdc_stream
    from polardbx_cdc_spark.streaming.pipeline import BinlogSink

    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    events_file = os.path.join(src, "events.parquet")

    t = time.perf_counter()
    gen.write(gen.events(ctx.rng, 0, EVENTS, gen.backlog_ts(0, EVENTS),
                         ctx.rng.integers(0, KEYS, EVENTS)), events_file)
    ctx.clock.lap("setup.generate_s", t)
    renders, disorder = [], []
    for i in range(RENDERS):  # the server serves the last one
        wire = os.path.join(ctx.work, f"wire{i}")
        t = time.perf_counter()
        render = BinlogSink(os.path.join(ctx.work, f"sink{i}"), wire_dir=wire)
        render(derive_cdc_stream(spark, src), 0)
        renders.append(time.perf_counter() - t)
        disorder += render.disorder_errors
    ctx.repeated_setup("setup.render_s", renders)
    wire_info = layers.wire_dir(wire)

    if tr is not None:
        tr.wrap(MD, "binlog_dump_gtid_fetch", "mysql_dump.fetch")
        tr.wrap(DS, "spool_segments", "spool")
    srv = MD.MySQLDumpServer(wire)
    t = time.perf_counter()
    host, port = srv.start()
    server_start_s = time.perf_counter() - t
    t = time.perf_counter()

    def attach(i: int) -> dict:
        """One full attach; returns its wall time, peak RSS and counts."""
        spool = os.path.join(ctx.work, "spool", str(i))
        reset_peak_rss(process_tree())
        t0 = time.perf_counter()
        with ctx.span("catchup.attach", op=i) as root:
            blob = MD.binlog_dump_gtid_fetch(host, port, {})
            fetch_rss, n_bytes = peak_rss_mb(), len(blob)
            n_seg = DS.spool_segments(blob, spool, seg_limit=SEG_LIMIT)
            del blob
            payload = (spark.read.format("binaryFile")
                       .option("pathGlobFilter", "segment_*.bin").load(spool)
                       .select(F.col("content").alias("payload")))
            agg = binlog_wire.binlog_to_events(payload).groupBy(
                "db", "tbl", "action").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                .cast("long").alias("value_cents"),
                F.sum(F.conv(F.substring(F.md5("pk"), 1, 8), 16, 10)
                      .cast("long")).cast("long").alias("pk_hash_sum"))
            with ctx.span("decode"):
                rows = agg.collect()
        wall = time.perf_counter() - t0
        op = {"wall": wall, "rss": tree_peak_rss_mb(), "rows": rows,
              "root": root, "fetch_rss": fetch_rss, "bytes": n_bytes,
              "segments": n_seg}
        shutil.rmtree(spool)
        return op

    try:
        attach(-1)  # warm-up: Python workers, codegen, page cache
        ctx.clock.lap("setup.warmup_s", t)
        ctx.setup_done()
        ops = []
        end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < end or len(ops) < MIN_ATTACHES:
            ops.append(attach(len(ops)))
    finally:
        t = time.perf_counter()
        srv.stop()
        server_stop_s = time.perf_counter() - t
        if tr is not None:
            tr.unwrap()

    expected = checks.oracle_agg([events_file])
    failures = [f"attach {i}: {m}" for i, op in enumerate(ops)
                for m in checks.catchup(op["rows"], expected)]
    failures += [f"dump server: {e}" for e in srv.handler_errors]
    failures += [f"BinlogSink disorder: {m}" for m in disorder]

    walls = [op["wall"] for op in ops]
    p50 = median(walls)
    rss = {part: median([op["rss"][part] for op in ops])
           for part in ops[0]["rss"]}
    res = {
        "attempted": len(ops),
        "failures": failures,
        "e2e": {
            "latency_p50_s": p50,
            "latency_p75_s": quantile(walls, 0.75),
            "peak_rss_mb": rss["driver"],
        },
        "report": {
            "catchup_s": (p50, "s"),
            "catchup_samples": (len(ops), "attaches"),
            "catchup_events_per_s": (EVENTS / p50, "events/s"),
            "catchup_peak_rss_mb": (rss["driver"], "MB"),
            "backlog_events": (EVENTS, "events"),
            "backlog_bytes": (wire_info["wire.backlog_bytes"], "bytes"),
            **{f"peak_rss_{k}_mb": (v, "MB") for k, v in rss.items()},
        },
    }
    if tr is not None:
        res["layers"] = attach_layers(tr, ops, server_start_s, server_stop_s)
        res["layers"].update(wire_info)
        res["layers"].update(layers.rss(rss))
    return res


#: span name → layer metric, for one attach
ATTACH_LAYERS = {
    "mysql_dump.fetch": "mysql_dump.fetch_s",
    "spool": "spool.s",
    "decode": "decode.s",
}


def attach_layers(tr, ops: list[dict], start_s: float, stop_s: float) -> dict:
    from perfbench.trace import split

    splits = [split(tr, op["root"], ATTACH_LAYERS) for op in ops]
    out = layers.mean_splits(splits)
    out["op.wall_s"] = out.pop("wall")
    n_dec = sum(r["n"] for r in ops[0]["rows"])
    out.update({
        "mysql_dump.fetch_mb_per_s": sum(op["bytes"] for op in ops) / 2**20
        / sum(s["mysql_dump.fetch_s"] for s in splits),
        "mysql_dump.fetch_rss_mb": median([op["fetch_rss"] for op in ops]),
        "mysql_dump.server_start_s": start_s,
        "mysql_dump.server_stop_s": stop_s,
        "spool.segments": ops[0]["segments"],
        "decode.events_per_s": n_dec / out["decode.s"],
        "trace.splits": splits,
    })
    return out
