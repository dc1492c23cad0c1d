"""Shared pieces of the benchmark: the work directory, the Spark session
with its environment, run hygiene, percentiles and the result line."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "debezium_nats_cdc_spark")
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Work:
    """A private directory for one run inside the checkout, removed at exit."""

    def __init__(self, workload: str):
        self.path = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass


def configure_env(work: Work) -> None:
    """Environment for the session and its Python workers: the checkout on
    PYTHONPATH (UDF workers import the package), and every temporary file
    of Spark, the JVM and Python inside the run's work directory."""
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))
    import tempfile
    tempfile.tempdir = tmp


def start_session():
    from debezium_nats_cdc_spark.session import get_session
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the session's JVM and its children."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    total = 0.0
    for pid in [proc.pid] + _children(proc.pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            kids = [int(x) for x in f.read().split()]
    except OSError:
        return out
    for k in kids:
        out += [k] + _children(k)
    return out


def hygiene() -> dict:
    """Machine state recorded with every run (not gated): load average,
    other running JVMs, CPU and IO pressure, and a fixed CPU calibration
    task."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    me = os.getpid()
    java = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != me:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    java += f.read().strip() == "java"
            except OSError:
                pass
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    calib_ms = (time.perf_counter() - t) * 1000
    pressure = {}
    for kind in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{kind}") as f:
                pressure[kind] = float(f.readline().split()[1].split("=")[1])
        except (OSError, IndexError, ValueError):
            pass  # kernel without pressure stall information
    return {"loadavg": [float(x) for x in load], "stray_java": java,
            "calibration_ms": round(calib_ms, 2),
            "pressure_some_avg10": pressure}


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         units: dict) -> None:
    """Print the result line (always the last line of stdout)."""
    out = {"correct": bool(correct), "attempted": int(attempted),
           "failed": int(failed),
           "metrics": {k: {"value": float(v), "unit": units[k]}
                       for k, v in metrics.items()}}
    print(json.dumps(out), flush=True)


def note(**kw) -> None:
    """An informational JSON line on stdout (never the last line)."""
    print(json.dumps(kw, default=str), flush=True)
