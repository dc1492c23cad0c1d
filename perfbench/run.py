"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc,catalog} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Prints informational JSON lines,
then one result line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run records spans and Spark counters and the metrics are
the per-layer ones (see METRICS.md).  Exits non-zero without a result
when the engine's source is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

SETUP_REPS = 3

# every workload reports every end-to-end metric; what each one times on
# each workload is in METRICS.md
E2E_UNITS = {"setup_s": "s", "batch_s": "s", "latency_p50_s": "s",
             "latency_p95_s": "s"}
WORKLOADS = {"cdc": ("cdc", "run_cdc"),
             "catalog": ("catalog_bench", "run_catalog")}


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 2:
        ap.error("--seconds must be at least 2")
    if not os.path.isdir(common.PACKAGE):
        print(f"engine source not found at {common.PACKAGE}", file=sys.stderr)
        return 2
    started = _process_start()
    work = common.Work(args.workload)
    spark = None
    try:
        common.configure_env(work)
        t = time.time()
        common.note(hygiene=common.hygiene(), workload=args.workload,
                    seed=args.seed, seconds=args.seconds, trace=args.trace)
        excluded = time.time() - t
        import tracing
        module, run_name = WORKLOADS[args.workload]
        wl = importlib.import_module(module)
        t = time.time()
        ctx = wl.prepare(work, args.seed)
        # hygiene and input generation are not set-up
        excluded += time.time() - t
        # set-up = the one-time Python start (interpreter and modules, from
        # process start), the median of SETUP_REPS session starts (each
        # launches a new JVM and builds the session) and the workload's
        # warm-up on the last session
        prelude = time.time() - started - excluded
        sessions = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                common.stop_session(spark)  # the JVM exits with it
            t = time.time()
            spark = common.start_session()
            sessions.append(time.time() - t)
        t = time.time()
        wl.warm_up(spark, work, args.seed, ctx)
        warm_up = time.time() - t
        tracer = tracing.Tracer(f"{args.workload}-{args.seed}") \
            if args.trace else None
        metrics, layer, attempted, failed, info = getattr(wl, run_name)(
            spark, work, args.seed, args.seconds, tracer, ctx)
        metrics["setup_s"] = prelude + statistics.median(sessions) + warm_up
        layer["setup.cold_s"] = prelude + sessions[0] + warm_up
        layer["jvm.peak_rss_mb"] = common.jvm_peak_rss_mb()
        info["setup_s"] = {"excluded": round(excluded, 3),
                           "prelude": round(prelude, 3),
                           "sessions": [round(x, 3) for x in sessions],
                           "warm_up": round(warm_up, 3)}
        common.note(**info)
        units = E2E_UNITS
        if args.trace:
            layer["session.get_session_s"] = statistics.median(sessions)
            for k, v in metrics.items():
                layer[f"traced.{k}"] = v
            import metrics_spec
            layer = metrics_spec.complete(layer)
            units = metrics_spec.PER_LAYER_UNITS
            tracer.write(os.path.join(
                common.OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
            metrics = layer
    finally:
        t = time.time()
        if spark is not None:
            common.stop_session(spark)
        t_stop = time.time()
        work.close()
        common.note(teardown_s={"session": round(t_stop - t, 3),
                                "work_dir": round(time.time() - t_stop, 3)})
    common.emit(failed == 0, attempted, failed, metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
