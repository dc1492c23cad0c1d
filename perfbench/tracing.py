"""Tracing for the traced run: spans recorded around calls into the
engine's public functions (wrapped from here, never edited in place), a
timing proxy for the pipeline's storage backend, and Spark's own job,
stage and shuffle counters.

Spans live in memory and are written as JSON lines when the run ends.
A span's self time is its duration minus the part of its interval that
its children cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

from debezium_nats_cdc_spark.streaming.state_backend import StateBackend


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent=None, **attrs):
        sid = next(self._ids)
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": parent if parent is not None else self.current(),
               "start": time.perf_counter(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, parent_of):
        """Replace ``module.attr`` with a wrapper that records a span whose
        parent is ``parent_of(*args)``; returns a function that undoes it."""
        orig = getattr(module, attr)

        def wrapper(*a, **kw):
            with self.span(name, parent=parent_of(*a, **kw)):
                return orig(*a, **kw)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans
                if s["name"] == name]

    def self_ms(self) -> dict[int, float]:
        """Self time of every span: duration minus the union of the
        intervals of its direct children."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"] - covered) * 1000
        return out

    def absorb(self, other: "Tracer") -> None:
        """Take over another tracer's spans, renumbering their ids."""
        base = max((s["id"] for s in self.spans), default=0)
        for s in other.spans:
            parent = s["parent"]
            self.spans.append({**s, "id": s["id"] + base,
                               "parent": None if parent is None else parent + base})
        self._ids = itertools.count(base + max(
            (s["id"] for s in other.spans), default=0) + 1)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_ms()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self_ms": selfs[s["id"]]}) + "\n")


class TimingBackend(StateBackend):
    """Delegates every storage operation to ``inner`` and records a span
    for the sink publishes, compaction swaps and state-log file counts."""

    def __init__(self, inner: StateBackend, tracer: Tracer, parent_of):
        self.inner = inner
        self.tracer = tracer
        self.parent_of = parent_of      # table -> span id of its batch
        self.file_counts: list[int] = []

    def ensure_dir(self, path):
        return self.inner.ensure_dir(path)

    def data_file_count(self, table_dir):
        n = self.inner.data_file_count(table_dir)
        self.file_counts.append(n)
        return n

    def data_rows(self, table_dir):
        return self.inner.data_rows(table_dir)

    def swap_write(self, df, table_dir):
        table = os.path.basename(table_dir.rstrip("/"))
        with self.tracer.span("compaction.swap_write",
                              parent=self.parent_of(table), table=table):
            return self.inner.swap_write(df, table_dir)

    def recover(self, table_dir):
        return self.inner.recover(table_dir)

    def append_exactly_once(self, df, table_dir, token, txn_dir,
                            partition_by=None):
        sink, table, _epoch = token.split("-")  # "<sink>-<table>-<epoch>"
        with self.tracer.span(f"sink.{sink}", parent=self.parent_of(table),
                              table=table, token=token):
            return self.inner.append_exactly_once(df, table_dir, token,
                                                  txn_dir, partition_by)

    def append(self, df, table_dir, partition_by=None):
        return self.inner.append(df, table_dir, partition_by)

    def committed(self, token, txn_dir):
        return self.inner.committed(token, txn_dir)

    def checkpoint_established(self, checkpoint_dir):
        return self.inner.checkpoint_established(checkpoint_dir)

    def clear_markers(self, txn_dir, prefixes):
        return self.inner.clear_markers(txn_dir, prefixes)

    def has_data(self, table_dir):
        return self.inner.has_data(table_dir)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Run the body under a Spark job group; yields a dict that receives
    the group's job, stage and shuffle-write-byte counts on exit."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    out: dict = {}
    try:
        yield out
    finally:
        sc.setJobGroup(None, None)
        out.update(job_counts(spark, group))


def job_counts(spark, group: str) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages, shuffle = 0, 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            try:
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:
                pass  # stage skipped (reused shuffle output): no attempt
    return {"jobs": len(jobs), "stages": stages, "shuffle_bytes": shuffle}
