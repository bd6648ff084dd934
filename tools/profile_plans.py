#!/usr/bin/env python
"""Per-query timings + formatted plans, for before/after deltas.

Usage:
    python tools/profile_plans.py <plans_dir> <out_tag> [query1,query2,...]

For each selected HEADLINE query (all of bench.HEADLINE by default):
warm-up run, best-of-2 timed runs (the bench.py methodology — .count()
on the returned frame), and the .explain("formatted") text written to
<plans_dir>/<query>_<out_tag>.txt. Timings land in
<plans_dir>/timings_<out_tag>.json. Uses the same session factory and
$SPARK_GRAFT_* contract as bench.py so numbers are comparable
run-to-run. Point a second checkout's run at the same plans_dir to dump
its "before" plans beside this one's.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polardbx_cdc_spark import queries as Q  # noqa: E402
from polardbx_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    plans_dir, tag = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(plans_dir, exist_ok=True)

    import bench  # noqa: E402  (HEADLINE list)

    names = list(bench.HEADLINE)
    if len(sys.argv) > 3:
        names = [n for n in sys.argv[3].split(",") if n]

    spark = get_spark("profile_plans")
    registry = Q.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    timings: dict[str, float] = {}
    for name in names:
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        try:
            # warm-up (codegen/JIT/fixture render), then best-of-2
            df = fn(spark, sf_dir)
            df.count()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)

    out = os.path.join(plans_dir, f"timings_{tag}.json")
    with open(out, "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "total": round(sum(timings.values()), 3),
             "queries": timings},
            fh, indent=1, sort_keys=True,
        )
    print(json.dumps({"tag": tag, "total": round(sum(timings.values()), 3),
                      "n": len(timings)}))
    spark.stop()


if __name__ == "__main__":
    main()
