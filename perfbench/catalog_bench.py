"""The catalog workload: one closed-loop client over batch catalog queries.

Inputs are generated from the seed with the schemas and value
distributions of the catalog's star-schema test tables (including a few
percent of near-duplicate documents), at scale ``SF``.

* light check: the 14 light event-analytics queries run once, collected
  and untimed; this is also their warm-up.
* heavy pass: the 14 heavy operator queries once each, in fixed catalog
  order: each query's first execution in the session, collected and then
  compared with its DuckDB oracle outside the timed call.  The run is a
  fresh process, so the dedup module's cross-query pair cache behaves as
  in one user session: it can serve a later query from an earlier one,
  never a same-query repeat.  Per-query times keep such a hit visible.
* light rounds: whole rounds of the light queries, each in a seeded order,
  through the noop sink, spread between the heavy queries until they have
  taken the run's length.

A query that raises, or whose result differs from its oracle, is a failed
operation.
"""

from __future__ import annotations

import os
import random
import sys
import time
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import pct
from metrics_spec import HEAVY, LIGHT
from tracing import Tracer, job_group

SF = 0.01
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
US = 1_000_000
NEAR_DUP_RATE = 0.05


def _ts(rng, n, lo: str, hi: str, sort=False):
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    if sort:
        v.sort()
    return pa.array(v, pa.timestamp("us"))


def _days(rng, n, lo: str, hi: str):
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b, n) * 86400 * US, pa.timestamp("us"))


def gen_tables(seed: int, sf: float, out: str) -> str:
    """Write the ten catalog tables at scale ``sf`` (sf 0.1 ≈ 600k
    lineitem rows) as one parquet file each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 50)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def pick(vals, n, p=None):
        return pa.array(np.asarray(vals, dtype=object)[
            rng.choice(len(vals), n, p=p)].tolist(), pa.string())

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "shiny"]
    noun = ["ring", "bolt", "widget", "plate", "gear", "nut", "pipe", "valve"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick([f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"],
                           n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string())})
    lens = rng.integers(10, 101, n_doc)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # near-duplicates: a few percent of documents re-state an earlier one
    # with one to three words replaced
    for i in np.flatnonzero(rng.random(n_doc) < NEAR_DUP_RATE):
        if i == 0:
            continue
        toks = texts[rng.integers(0, i)].split()
        for p in rng.integers(0, len(toks), rng.integers(1, 4)):
            toks[p] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(toks)
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(["en", "zh", "es", "fr", "de"], n_doc,
                     p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


# ---------------------------------------------------------- correctness ---

def _strict():
    """``tools/check_strict.py``, whose ``canon`` and ``TABLES`` the check
    uses.  The module puts a fixed repository path first on ``sys.path``
    when imported; that entry is taken out again, so the package is still
    imported from this checkout."""
    saved = list(sys.path)
    try:
        from tools import check_strict
    finally:
        sys.path[:] = saved
    return check_strict


class Oracle:
    """DuckDB over the generated tables, answering each query's oracle SQL."""

    def __init__(self, data_dir: str):
        import duckdb
        from debezium_nats_cdc_spark import catalog
        self.strict = _strict()
        self.sql = catalog.oracle_sql()
        self.con = duckdb.connect()
        for t in self.strict.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{os.path.join(data_dir, t)}.parquet'")

    def mismatch(self, name: str, got) -> str | None:
        """None when ``got`` equals the oracle's result, else why not."""
        if name not in self.sql:
            return "no oracle"
        want = self.con.sql(self.sql[name]).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if self.strict.canon(got) != self.strict.canon(want):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------------- workload ---

def prepare(work, seed: int) -> str:
    return gen_tables(seed, SF, work.sub("tables"))


def warm_up(spark, work, seed: int, data: str) -> None:
    """Session-level warm-up: a few light queries."""
    from debezium_nats_cdc_spark import catalog
    qs = catalog.queries()
    for name in LIGHT[:2]:
        _noop(qs[name](spark, data))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_catalog(spark, work, seed: int, seconds: float, tracer: Tracer | None,
                data: str):
    from debezium_nats_cdc_spark import catalog
    qs = catalog.queries()
    failures: dict = {}
    results: dict = {}
    layer: dict = {}

    # light queries: checked first (untimed), which is also their warm-up
    t_check = time.perf_counter()
    for name in LIGHT:
        try:
            results[name] = qs[name](spark, data).toPandas()
        except Exception as ex:  # a query that raises is a failed op
            failures[name] = f"{type(ex).__name__}: {ex}"[:300]
    attempted = len(HEAVY) + len(LIGHT)

    # timed light queries: whole rounds over all of them, each round in a
    # seeded order, so that every run weighs the queries alike
    rng = random.Random(seed)
    lat, plan, jobs = [], [], []

    def light_round() -> float:
        nonlocal attempted
        t_round = time.perf_counter()
        for name in rng.sample(LIGHT, len(LIGHT)):
            i = attempted
            attempted += 1
            t = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"catalog.light.{name}"), \
                            job_group(spark, f"light-{i}") as jc:
                        df = qs[name](spark, data)
                        plan.append((time.perf_counter() - t) * 1000)
                        _noop(df)
                    jobs.append(jc["jobs"])
                else:
                    _noop(qs[name](spark, data))
            except Exception as ex:
                failures[f"light-{i}:{name}"] = \
                    f"{type(ex).__name__}: {ex}"[:300]
            else:
                lat.append((time.perf_counter() - t) * 1000)
        return time.perf_counter() - t_round

    # heavy pass: each query's first execution in this session, collected
    # (the results are small) so that the timed run is the checked run.
    # The light rounds are spread through it: after heavy query k of n,
    # rounds run until the light time reaches seconds * k / n, so a burst
    # of load on the host touches a few light samples, not all of them
    t_heavy = time.perf_counter()
    heavy: dict = {}
    light_s = 0.0
    for done, name in enumerate(HEAVY, 1):
        t = time.perf_counter()
        try:
            if tracer:
                with tracer.span(f"catalog.{name}"), \
                        job_group(spark, f"heavy-{name}") as jc:
                    results[name] = qs[name](spark, data).toPandas()
                layer.update({f"catalog.{name}.{k}": v for k, v in jc.items()})
            else:
                results[name] = qs[name](spark, data).toPandas()
        except Exception as ex:
            failures[name] = f"{type(ex).__name__}: {ex}"[:300]
        else:
            heavy[name] = time.perf_counter() - t
            if tracer:
                layer[f"catalog.{name}.wall_s"] = heavy[name]
        while light_s < seconds * done / len(HEAVY):
            light_s += light_round()
    t_oracle = time.perf_counter()

    oracle = Oracle(data)
    try:
        for name, got in results.items():
            why = oracle.mismatch(name, got)
            if why:
                failures[name] = why
    finally:
        oracle.close()
    metrics = {"batch_s": sum(heavy.values()),
               "latency_p50_s": pct(lat, 50) / 1000,
               "latency_p95_s": pct(lat, 95) / 1000}
    if tracer:
        layer["catalog.light.plan_ms_p50"] = median(plan)
        layer["catalog.light.jobs_per_query"] = median(jobs)
    info = {"failures": failures,
            "phase_s": {"light_check": round(t_heavy - t_check, 2),
                        "heavy_and_light": round(t_oracle - t_heavy, 2),
                        "light": round(light_s, 2),
                        "oracle": round(time.perf_counter() - t_oracle, 2)},
            "heavy_s": {k: round(v, 3) for k, v in heavy.items()},
            "light_samples": len(lat)}
    return metrics, layer, attempted, len(failures), info
