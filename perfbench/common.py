"""Process set-up shared by every workload: keep all scratch state inside
the checkout, start and stop Spark, and small statistics helpers.

Nothing here runs at import time except constant definitions; ``run.py``
calls :func:`isolate` before pyspark is imported."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

#: the checkout root: the directory that holds perfbench/
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "polardbx_cdc_spark"


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def isolate(work: str) -> None:
    """Point every temp, Spark local and JVM tmp directory into ``work``
    and make the checkout's own package importable (and only that one).

    ``streaming.source._as_stream_dir`` stages its link directory under
    ``tempfile.gettempdir()``, so TMPDIR must be set before tempfile is
    first asked."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"no {PACKAGE}/ package in {ROOT}; run from the root of a checkout")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: each JVM (spark-submit's launcher, then the
    # driver) would otherwise map a file under /tmp/hsperfdata_<user>
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm} -Dderby.system.home={work}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers import the package too, from a fresh interpreter
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)  # spark-warehouse / metastore_db / derby.log land here


def start_spark(cores: int):
    from polardbx_cdc_spark.session import get_spark

    return get_spark("perfbench", cpus=cores)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no samples")
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def process_tree() -> list[int]:
    """This process and every live descendant: the Spark JVM, and the
    Python workers its daemon forks."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    # the command name may hold spaces; ppid follows its ')'
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError):
                pass  # exited while listed
    tree = [os.getpid()]
    for pid in tree:
        tree.extend(c for c, p in parent.items() if p == pid)
    return tree


def reset_peak_rss(pids: list[int]) -> None:
    """Reset VmHWM to the current RSS (``clear_refs`` mode 5) of each of
    ``pids``."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # exited


def peak_rss_mb(pid: int | None = None) -> float:
    """VmHWM of this process or of ``pid``; 0 once it has exited."""
    try:
        with open(f"/proc/{pid or 'self'}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return 0.0
    raise RuntimeError("VmHWM missing from /proc/*/status")


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS since the last reset of the driver, the JVM and the Python
    workers (each a sum over its processes) and ``total``, their sum."""
    out = {"driver": peak_rss_mb(), "jvm": 0.0, "workers": 0.0}
    for pid in process_tree()[1:]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                part = "jvm" if fh.read().strip() == "java" else "workers"
        except OSError:
            continue
        out[part] += peak_rss_mb(pid)
    out["total"] = out["driver"] + out["jvm"] + out["workers"]
    return out


class Clock:
    """Wall-clock stopwatch for named set-up phases."""

    def __init__(self) -> None:
        self.phases: dict[str, float] = {}

    def lap(self, name: str, since: float) -> float:
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + (now - since)
        return now
