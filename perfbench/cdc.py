"""The ``cdc`` workload: the CDC pipeline under two loops in one run.

Backfill (closed loop): the generator writes a backlog of
``BACKFILL_EVENTS`` changes before timing starts; it is drained with
``run_pipeline_until_done(..., concurrent=True)``, so every table gets one
large micro-batch and per-row costs dominate.  It is the session's first
streaming run, as when a pipeline restarts and catches up.

Live (open loop): 10,000 change events/s.  A separate generator process
renames one pre-serialized JSON-lines file into the change log every
250 ms while all five default table pipelines run as concurrent continuous
queries.  The stream's start time is fixed before its events are drawn and
staged, with a lead of twice that work's cost as measured on the backfill's
draw; a file renamed more than one period late, or already due before
staging ended, is a failed operation, so the generator's own lateness never
passes for the pipeline's.  Before the stream starts, each table's state
log is loaded with its snapshot split into two files fewer than the
compaction threshold, so inline state compaction fires during the run.
After the generator stops and the queries drain, one closed-loop client
issues event-store and state queries.

Both phases check every output against the generator's outcome model: a
stored domain event that is missing, duplicated or unexpected, a wrong
dead-letter row and a wrong current-state row each count as a failed
operation, and so does a store query whose answer differs from the model.
"""

from __future__ import annotations

import collections
import json
import os
import random
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import pyarrow.parquet as pq

import cdcgen
from common import pct
from metrics_spec import BACKFILL_LAYER
from tracing import TimingBackend, Tracer, job_group

RATE = 10_000            # events/s, the reference's sustained-throughput SLO
PERIOD_S = 0.25          # one log file per period
BACKFILL_EVENTS = 110_000
BACKFILL_FILE_EVENTS = 2_500
READ_QUERIES = 30

WARM_EVENTS = 2_000
# lead of the live stream's start over drawing and staging its events:
# LEAD_FACTOR times that work's cost as measured on the backfill's draw,
# plus LEAD_EXTRA_S
LEAD_FACTOR = 2.0
LEAD_EXTRA_S = 0.5


def _pipeline():
    from debezium_nats_cdc_spark.streaming import pipeline
    return pipeline


# ------------------------------------------------------------- inputs ---

def seed_state(spark, snapshot: dict, ts_ms: int, snap_dir: str, dirs,
               n_files: int) -> None:
    """Load each table's snapshot (op='r' envelopes) into its state log as
    ``n_files`` files, through the engine's own unwrap/materialize path
    (one concurrent Spark job per table)."""
    from debezium_nats_cdc_spark.operators.materialize import (
        batch_latest_with_deletes, initial_state)
    from debezium_nats_cdc_spark.operators.unwrap import unwrap
    from debezium_nats_cdc_spark.sources.cdc import read_change_log

    def load(t: str) -> None:
        path = os.path.join(snap_dir, t)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "snapshot.json"), "w") as f:
            f.write("\n".join(cdcgen.snapshot_lines(snapshot, ts_ms, t)) + "\n")
        rows = initial_state(batch_latest_with_deletes(
            unwrap(read_change_log(spark, path, t))))
        dirs.backend.append(rows.repartition(n_files),
                            os.path.join(dirs.state, t))

    with ThreadPoolExecutor(max_workers=len(cdcgen.TABLES)) as pool:
        for f in [pool.submit(load, t) for t in cdcgen.TABLES]:
            f.result()


def prepare(work, seed: int) -> None:
    """Inputs are drawn inside the run (the live stream's timestamps depend
    on when it starts)."""
    return None


def warm_up(spark, work, seed: int, ctx=None) -> None:
    """The program's set-up path: a small batch of employee changes through
    ``process_batch`` outside any stream (the snapshot-seeding path), which
    builds the rule, contract and sink plans for the fresh session.  The
    streaming machinery itself is first used by the timed backfill, as in
    a pipeline that restarts and catches up."""
    pl = _pipeline()
    from debezium_nats_cdc_spark.operators.unwrap import unwrap
    from debezium_nats_cdc_spark.sources.cdc import read_change_log
    root = work.sub(f"warm-{time.time_ns()}")
    gen = cdcgen.generate(seed + 10_007, WARM_EVENTS,
                          int(time.time() * 1000) - 30_000, RATE)
    log = os.path.join(root, "log")
    cdcgen.write_files(gen.lines, log, 1e9)
    dirs = pl.PipelineDirs.under(os.path.join(root, "out"))
    pl.process_batch(spark, unwrap(read_change_log(spark, log, "employees")),
                     "employees", dirs)


# ------------------------------------------------------------ tracing ---

class PipelineTrace:
    """Spans around the pipeline's per-batch calls, and the streaming
    progress of every query (read through a query listener)."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener
        self.tracer = tracer
        self.active: dict = {}          # table -> span id of its batch
        self.local = threading.local()
        self.progress: list = []
        self.undo = []
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)
        self.spark = spark
        pl = _pipeline()
        orig = pl.process_batch

        def process_batch(spark_, batch, table, dirs, epoch_id=None,
                          registry=None):
            with tracer.span("pipeline.process_batch", table=table,
                             epoch=epoch_id) as rec:
                self.active[table] = rec["id"]
                return orig(spark_, batch, table, dirs, epoch_id, registry)

        pl.process_batch = process_batch
        self.undo.append(lambda: setattr(pl, "process_batch", orig))

        def rules_parent(batch, table, *a, **kw):
            self.local.table = table
            return self.active.get(table)

        self.undo.append(tracer.wrap(pl, "apply_rules", "rules.apply_rules",
                                     parent_of=rules_parent))
        self.undo.append(tracer.wrap(
            pl, "with_validation", "validate.with_validation",
            parent_of=lambda *a, **kw: self.active.get(
                getattr(self.local, "table", None))))

    def backend(self, inner):
        return TimingBackend(inner, self.tracer, self.active.get)

    def close(self) -> None:
        for u in self.undo:
            u()
        self.spark.streams.removeListener(self.listener)


def progress_metrics(progress: list, generated: int) -> dict:
    """Per-layer numbers from StreamingQueryProgress: source, trigger
    phases and the dedup state operator."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    last: dict = {}
    for p in progress:
        if p.get("stateOperators"):
            last[p["name"]] = p["stateOperators"][0]
    rows = sum(p["numInputRows"] for p in data)
    return {
        "sources.rows_read": rows,
        "sources.read_amplification": rows / generated,
        "sources.latest_offset_ms_p50": median(dur("latestOffset")),
        "sources.get_batch_ms_p50": median(dur("getBatch")),
        "pipeline.batches": len(data),
        "pipeline.batch_rows_p50": median(p["numInputRows"] for p in data),
        "pipeline.trigger_ms_p50": median(dur("triggerExecution")),
        "pipeline.trigger_ms_p95": pct(dur("triggerExecution"), 95),
        "pipeline.query_planning_ms_p50": median(dur("queryPlanning")),
        "pipeline.wal_commit_ms_p50": median(dur("walCommit")),
        "pipeline.commit_offsets_ms_p50": median(dur("commitOffsets")),
        "state.dedup_rows_total": sum(o["numRowsTotal"] for o in last.values()),
        "state.dedup_dropped": sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for o in ops),
        "state.commit_ms_p50": median(o["commitTimeMs"] for o in ops),
        "state.all_updates_ms": sum(o["allUpdatesTimeMs"] for o in ops),
        "state.memory_bytes": sum(o["memoryUsedBytes"] for o in last.values()),
    }


def backlog_files_max(checkpoints: str) -> int:
    """Most log files one micro-batch picked up: the files that queued
    while the previous batch ran (from the file source's metadata log)."""
    most = 0
    for t in cdcgen.TABLES:
        d = os.path.join(checkpoints, t, "sources", "0")
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.isdigit():
                with open(os.path.join(d, name)) as f:
                    most = max(most, sum(1 for line in f if '"path"' in line))
    return most


def sink_metrics(tracer: Tracer) -> dict:
    spans = tracer.spans
    batch = {s["id"]: s for s in spans if s["name"] == "pipeline.process_batch"}
    sink_sum: dict = collections.Counter()
    for s in spans:
        if s["name"].startswith("sink.") and s["parent"] in batch:
            sink_sum[s["parent"]] += s["end"] - s["start"]
    overlap = [sink_sum[i] / (b["end"] - b["start"]) for i, b in batch.items()
               if i in sink_sum]
    selfs = tracer.self_ms()
    ev = tracer.durations_ms("sink.events")
    return {
        "pipeline.process_batch_ms_p50": median(
            tracer.durations_ms("pipeline.process_batch")),
        "pipeline.process_batch_self_ms_p50": median(selfs[i] for i in batch),
        "rules.plan_ms_p50": median(tracer.durations_ms("rules.apply_rules")),
        "validate.plan_ms_p50": median(
            tracer.durations_ms("validate.with_validation")),
        "sink.events_ms_p50": median(ev),
        "sink.events_ms_p95": pct(ev, 95),
        "sink.audit_ms_p50": median(tracer.durations_ms("sink.audit")),
        "sink.state_ms_p50": median(tracer.durations_ms("sink.state")),
        "sink.fanout_overlap": median(overlap),
    }


# -------------------------------------------------------- correctness ---

def _parquet_files(root):
    """Committed parquet files under ``root`` (Spark's ``_``/``.`` staging
    names skipped)."""
    for r, ds, fs in os.walk(root):
        ds[:] = [d for d in ds if not d.startswith(("_", "."))]
        for f in fs:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(r, f)


def stored_state(state_dir: str, fields=()) -> dict:
    """Live rows of one table's state log, read with pyarrow: per key the
    newest version by (``_ts_ms``, ``_change_key``), tombstones dropped."""
    best: dict = {}
    cols = ["_pk", "_ts_ms", "_change_key", "_deleted", *fields]
    for path in _parquet_files(state_dir):
        t = pq.read_table(path, columns=cols).to_pydict()
        for i, k in enumerate(t["_pk"]):
            v = (t["_ts_ms"][i], t["_change_key"][i])
            if k not in best or v > best[k][0]:
                best[k] = (v, {c: t[c][i] for c in cols})
    return {k: r for k, (_, r) in best.items() if not r["_deleted"]}


def read_outputs(dirs) -> dict:
    """Stored events and dead-letter rows, read with pyarrow (not through
    the engine), keyed by the epoch token of the file that holds them."""
    files = _parquet_files
    events, nbytes, nfiles, months = [], 0, 0, set()
    for path in files(dirs.events):
        t = pq.read_table(path, columns=["event_id", "event_timestamp"])
        token = os.path.basename(path).rsplit("-", 1)[0]
        ts = t.column("event_timestamp").cast("int64").to_pylist()
        for eid, us in zip(t.column("event_id").to_pylist(), ts):
            events.append((eid, us // 1000, token))
        nbytes += os.path.getsize(path)
        nfiles += 1
        months.add(os.path.basename(os.path.dirname(path)))
    dlq = []
    for path in files(dirs.dead_letter):
        dlq += pq.read_table(path, columns=["eventId"]).column(
            "eventId").to_pylist()
    return {"events": events, "dlq": dlq, "bytes": nbytes, "files": nfiles,
            "months": max(len(months), 1)}


def check_outputs(dirs, outcome: cdcgen.Outcome, out: dict) -> dict:
    """Failed-operation counts of one pipeline root against the model."""
    stored = collections.Counter(e[0] for e in out["events"])
    expected = outcome.events
    missing = sum(1 for e in expected if e not in stored)
    extra = sum(n for e, n in stored.items() if e not in expected)
    dups = sum(n - 1 for e, n in stored.items() if n > 1 and e in expected)
    dlq = collections.Counter(out["dlq"])
    dlq_bad = (sum(1 for e in outcome.dlq if e not in dlq)
               + sum(n for e, n in dlq.items() if e not in outcome.dlq)
               + sum(n - 1 for n in dlq.values() if n > 1))
    state_bad = 0
    fields = ("salary", "status", "department_id", "position_id",
              "manager_id", "email")
    for t in cdcgen.TABLES:
        want = outcome.live_rows(t)
        got = stored_state(os.path.join(dirs.state, t),
                           fields if t == "employees" else ())
        state_bad += len(set(want) ^ set(got))
        if t == "employees":
            state_bad += sum(
                1 for k in set(want) & set(got)
                if any((float(got[k][f]) if f == "salary" else got[k][f])
                       != want[k][f] for f in fields))
    return {"missing": missing, "extra": extra, "duplicated": dups,
            "dlq_wrong": dlq_bad, "state_wrong": state_bad}


# ---------------------------------------------------------- workloads ---

def run_live(spark, work, seed: int, seconds: float, tracer: Tracer | None,
             stage_s_per_event: float):
    pl = _pipeline()
    from debezium_nats_cdc_spark import store
    from debezium_nats_cdc_spark.streaming.state_backend import LocalFSBackend
    ptrace = PipelineTrace(spark, tracer) if tracer else None
    backend = LocalFSBackend()
    if ptrace:
        backend = ptrace.backend(backend)
    t_start = time.time()
    g = cdcgen.Generator(seed)
    snap_ts = int(time.time() * 1000) - cdcgen.SNAPSHOT_AGE_MS
    root = work.sub("live")
    dirs = pl.PipelineDirs.under(root, backend=backend)
    seed_state(spark, g.snapshot, snap_ts, work.sub("snap"), dirs,
               pl.COMPACT_FILE_THRESHOLD - 2)
    stage, log_dir = work.sub("stage"), work.sub("log")
    os.makedirs(log_dir)
    queries = [pl.start_table_pipeline(spark, log_dir, t, dirs,
                                       available_now=False)
               for t in cdcgen.TABLES]
    # the stream starts once the queries run; its events are stamped with
    # their due times, so they are drawn after the start time is fixed
    n_live = int(RATE * seconds)
    lead_s = LEAD_FACTOR * stage_s_per_event * n_live + LEAD_EXTRA_S
    t0 = time.time() + lead_s
    gen = g.stream(n_live, int(t0 * 1000), RATE, snap_ts)
    cdcgen.write_files(gen.lines, stage, PERIOD_S * 1000)
    report = work.sub("publish.json")
    staged = time.time()
    pub = subprocess.Popen([sys.executable, cdcgen.__file__, stage, log_dir,
                            repr(t0), repr(PERIOD_S), report])
    try:
        pub.wait(timeout=seconds + 120)
    finally:
        if pub.poll() is None:
            pub.kill()
            pub.wait()
    t_end = time.time()
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    drain_s = time.time() - t_end
    with open(report) as f:
        published = json.load(f)

    t_reads = time.time()
    # read phase: one closed-loop client, seeded queries
    outcome = gen.outcome
    by_agg = outcome.by_aggregate()
    aggs = sorted(by_agg)
    types = sorted({v[0] for v in outcome.events.values()})
    live_emps = len(outcome.live_rows("employees"))
    rng = random.Random(seed * 1_000_003 + 17)
    lat_ms, read_failed, jobs = [], 0, []
    span_ms = int(seconds * 1000)
    for i in range(READ_QUERIES):
        kind = ("aggregate", "type_range", "state")[i % 3]
        if kind == "aggregate":
            agg = rng.choice(aggs)
            want = by_agg[agg]
            run = lambda: {r[0] for r in store.read_events_pruned(  # noqa: E731
                spark, dirs.events, aggregate_ids=[str(agg)])
                .select("event_id").collect()}
            name = "store.read_events_pruned"
        elif kind == "type_range":
            etype = rng.choice(types)
            lo = int(t0 * 1000) + rng.randrange(0, span_ms - 1000)
            hi = lo + rng.randrange(500, 3000)
            want = sum(1 for t, _, ts in outcome.events.values()
                       if t == etype and lo <= ts <= hi)
            run = lambda: store.read_events_pruned(  # noqa: E731
                spark, dirs.events, event_types=[etype],
                ts_range=(_ts_literal(lo), _ts_literal(hi))).count()
            name = "store.read_events_pruned"
        else:
            want = live_emps
            run = lambda: pl.read_state(spark, dirs, "employees").count()  # noqa: E731
            name = "pipeline.read_state"
        t = time.perf_counter()
        if tracer:
            with tracer.span(name, kind=kind), job_group(
                    spark, f"read-{i}") as jc:
                got = run()
            jobs.append(jc["jobs"])
        else:
            got = run()
        lat_ms.append((time.perf_counter() - t) * 1000)
        read_failed += got != want

    t_check = time.time()
    out = read_outputs(dirs)
    checks = check_outputs(dirs, outcome, out)
    # the generator's own schedule: a file renamed more than a period late,
    # or already due before staging ended, would put the benchmark's
    # lateness into the freshness figures; each is a failed operation
    checks["late_files"] = sum(
        1 for p in published
        if p["late_ms"] > PERIOD_S * 1000
        or p["at"] - p["late_ms"] / 1000 < staged)
    fresh = _freshness(out, dirs)
    phases = {"live_prep": t0 - t_start, "live_stream": t_end - t0,
              "live_drain": drain_s, "reads": t_check - t_reads,
              "live_check": time.time() - t_check}
    lateness = [p["late_ms"] for p in published]
    info = {"live_events": len(gen.lines),
            "redeliveries": outcome.redeliveries,
            "violations": len(outcome.dlq), "checks": checks,
            "read_failed": read_failed, "drain_s": round(drain_s, 3),
            "lead_s": round(lead_s, 3),
            "stage_slack_s": round(t0 - staged, 3),
            "generator_late_ms_p50": round(median(lateness), 3),
            "generator_late_ms_max": round(max(lateness), 3),
            "freshness_samples": len(fresh), "read_samples": len(lat_ms),
            "phase_s": {k: round(v, 2) for k, v in phases.items()}}
    metrics = {"latency_p50_s": pct(fresh, 50),
               "latency_p95_s": pct(fresh, 95)}
    layer = {"store.query_p50_ms": pct(lat_ms, 50),
             "store.query_p90_ms": pct(lat_ms, 90),
             "live.generator_late_ms_max": max(lateness)}
    if ptrace:
        time.sleep(1.0)  # let the listener bus deliver the last progress
        ptrace.close()
        layer.update(progress_metrics(ptrace.progress, len(gen.lines)))
        layer["sources.backlog_files_max"] = backlog_files_max(dirs.checkpoints)
        layer.update(sink_metrics(tracer))
        layer.update(_store_layer(tracer, out, dirs, backend, jobs))
        layer["rules.events_out"] = len(out["events"])
        layer["validate.dlq_rows"] = len(out["dlq"])
    attempted = (outcome.source_events + outcome.redeliveries + READ_QUERIES
                 + len(published))
    failed = sum(checks.values()) + read_failed
    return metrics, layer, attempted, failed, info


def _ts_literal(ms: int) -> str:
    s, frac = divmod(ms, 1000)
    g = time.gmtime(s)
    return time.strftime("%Y-%m-%d %H:%M:%S", g) + f".{frac:03d}"


def _freshness(out: dict, dirs) -> list[float]:
    """Per stored row: commit time of its epoch's events-sink marker minus
    the source ``ts_ms``."""
    commit: dict = {}
    fresh = []
    for _, ts_ms, token in out["events"]:
        if token not in commit:
            commit[token] = os.stat(os.path.join(
                dirs.txn, token + ".commit")).st_mtime
        fresh.append(commit[token] - ts_ms / 1000.0)
    return fresh


def _store_layer(tracer, out, dirs, backend, jobs) -> dict:
    reads = tracer.durations_ms("store.read_events_pruned")
    swaps = tracer.durations_ms("compaction.swap_write")
    return {
        "sink.bytes_per_event": out["bytes"] / max(len(out["events"]), 1),
        "sink.events_files": out["files"],
        "compaction.count": len(swaps),
        "compaction.swap_write_ms": median(swaps) if swaps else 0.0,
        "state.files_max": max(backend.file_counts, default=0),
        "store.read_events_ms_p50": median(reads) if reads else 0.0,
        "store.read_state_ms_p50": median(
            tracer.durations_ms("pipeline.read_state") or [0.0]),
        "store.files_per_month": out["files"] / out["months"],
        "store.jobs_per_query": median(jobs) if jobs else 0.0,
    }


def run_backfill(spark, work, seed: int, tracer: Tracer | None):
    """One drain of a written backlog: every table gets one large batch."""
    pl = _pipeline()
    from debezium_nats_cdc_spark.streaming.state_backend import LocalFSBackend
    t = time.perf_counter()
    gen = cdcgen.generate(seed + 1, BACKFILL_EVENTS, 1_767_225_600_000, RATE)
    log_dir = work.sub("backlog")
    cdcgen.write_files(gen.lines, log_dir, BACKFILL_FILE_EVENTS / RATE * 1000)
    stage_s = time.perf_counter() - t
    ptrace = PipelineTrace(spark, tracer) if tracer else None
    root = work.sub("backfill")
    backend = LocalFSBackend()
    if ptrace:
        backend = ptrace.backend(backend)
    dirs = pl.PipelineDirs.under(root, backend=backend)
    seed_state(spark, gen.snapshot, gen.snapshot_ts_ms, work.sub("bsnap"),
               dirs, 1)
    t = time.perf_counter()
    if tracer:
        with tracer.span("pipeline.run_pipeline_until_done"):
            pl.run_pipeline_until_done(spark, log_dir, root, concurrent=True,
                                       backend=backend)
    else:
        pl.run_pipeline_until_done(spark, log_dir, root, concurrent=True,
                                   backend=backend)
    wall = time.perf_counter() - t
    out = read_outputs(dirs)
    checks = check_outputs(dirs, gen.outcome, out)
    metrics = {"batch_s": wall}
    layer: dict = {}
    if ptrace:
        time.sleep(1.0)  # let the listener bus deliver the last progress
        ptrace.close()
        layer.update(progress_metrics(ptrace.progress, len(gen.lines)))
        layer.update(sink_metrics(tracer))
        layer["rules.events_out"] = len(out["events"])
        layer["validate.dlq_rows"] = len(out["dlq"])
        layer = {f"backfill.{k}": v for k, v in layer.items()
                 if k in BACKFILL_LAYER}
    info = {"backfill_events": len(gen.lines),
            "backfill_stage_s": round(stage_s, 3),
            "backfill_events_per_s": round(len(gen.lines) / wall, 1),
            "backfill_redeliveries": gen.outcome.redeliveries,
            "backfill_violations": len(gen.outcome.dlq),
            "backfill_checks": checks}
    attempted = gen.outcome.source_events + gen.outcome.redeliveries
    return metrics, layer, attempted, sum(checks.values()), info


def run_cdc(spark, work, seed: int, seconds: float, tracer: Tracer | None,
            ctx=None):
    """The backfill (closed loop), then the live stream (open loop)."""
    sub = [Tracer(f"{tracer.run_id}:{p}") if tracer else None
           for p in ("backfill", "live")]
    t = time.time()
    b_metrics, b_layer, b_att, b_failed, b_info = run_backfill(
        spark, work, seed, sub[0])
    b_info["backfill_phase_s"] = round(time.time() - t, 2)
    stage_s_per_event = b_info["backfill_stage_s"] / BACKFILL_EVENTS
    metrics, layer, attempted, failed, info = run_live(
        spark, work, seed, seconds, sub[1], stage_s_per_event)
    if tracer:
        for s in sub:
            tracer.absorb(s)
    return ({**b_metrics, **metrics}, {**b_layer, **layer},
            b_att + attempted, b_failed + failed, {**b_info, **info})
