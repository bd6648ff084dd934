"""CDC benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload binlog_tail --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it builds nothing, imports the
checkout's ``polardbx_cdc_spark`` and keeps all scratch state under
``.perfbench_work/`` (removed on exit). ``--trace 0`` measures the
end-to-end metrics untraced; ``--trace 1`` wraps the package's eager
entry points and reports the per-layer split, writing the spans to
``.perfbench_out/``. ``--cores 1`` gives the single-core reference run.

Human-readable lines go to stdout first; the last line is the JSON result
whose metric names and units come from ``BENCHMARK.json``."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("binlog_tail", "replica_catchup")


class Ctx:
    """What a workload needs: the session, its seeded generator, the run
    length, a scratch directory, the tracer (None when untraced) and the
    set-up clock."""

    def __init__(self, args, work: str, tracer) -> None:
        import numpy as np

        self.seconds = args.seconds
        self.rng = np.random.default_rng(args.seed)
        self.work = work
        self.tracer = tracer
        self.clock = common.Clock()
        self.setup_s: float | None = None
        self.repeats_s = 0.0  # set-up time beyond the median repetition
        self.spark = None

    def repeated_setup(self, name: str, times: list[float]) -> None:
        """Record a set-up step that ran several times: it counts once,
        at its median."""
        self.clock.phases[name] = median(times)
        self.repeats_s += sum(times) - median(times)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.repeats_s

    def span(self, name: str, op=None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op)


def main() -> int:
    # a terminated run still stops its JVM: SystemExit unwinds the finally
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    try:
        with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except FileNotFoundError:
        common.fail("BENCHMARK.json not found; run from the root of a checkout")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.isolate(work)

    from perfbench import catchup, tail
    from perfbench.trace import Tracer

    tracer = Tracer() if args.trace else None
    ctx = Ctx(args, work, tracer)
    module = {"binlog_tail": tail, "replica_catchup": catchup}[args.workload]
    try:
        t = time.perf_counter()
        ctx.spark = common.start_spark(args.cores)
        ctx.spark.range(1).collect()  # the JVM and the first job are up
        ctx.clock.lap("setup.spark_start_s", t)
        res = module.run(ctx)
    finally:
        try:
            if ctx.spark is not None:
                common.stop_spark(ctx.spark)
        finally:
            os.chdir(common.ROOT)
            shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"]
    attempted = max(1, res["attempted"])
    metrics = dict(res["e2e"], setup_s=ctx.setup_s)
    if tracer is not None:
        layers = res["layers"]
        splits = layers.pop("trace.splits", [])
        layers.update(ctx.clock.phases)
        layers["trace.overhead_s"] = tracer.overhead_s / attempted
        layers.update({f"traced.{k}": v for k, v in res["e2e"].items()})
        out_dir = os.path.join(common.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "splits": splits}, fh)
        metrics = layers

    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} cores {args.cores} "
          f"trace {args.trace}")
    print(f"  error_rate = {len(failures) / attempted:.4f} ratio "
          f"({len(failures)} failed of {attempted})")
    print(f"  setup_s = {ctx.setup_s:.4f} s")
    for k, (v, unit) in res["report"].items():
        print(f"  {k} = {v:.6g} {unit}")
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures), "metrics": {}}
    for m in wanted:
        if m["name"] in metrics:
            v = metrics[m["name"]]
        elif args.trace:
            v = 0.0  # a layer this workload does not exercise
        else:
            raise KeyError(f"workload did not measure {m['name']}")
        result["metrics"][m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
