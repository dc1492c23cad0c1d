"""STRICT replica of the driver's t2 correctness gate (worst-case assumptions).

Stricter than a lenient row comparison in three ways:
  - Spark side collected from a VANILLA session (driver owns the session;
    no tuned confs) via .toPandas()
  - DuckDB side collected via .df()  (NOT fetchall) — this converts
    DECIMAL -> float64, HUGEINT -> float64, DATE -> datetime64, and lists
    to masked arrays, which is the leading theory for the 25 r1
    hash-mismatches (Decimal('1.40') vs 1.4 prints differently)
  - cells canonicalized with raw str(v): NO decimal normalization, NO
    isoformat — if the two pandas frames don't print identically, FAIL.

A query that passes this gate should hash-match under any reasonable
driver canonicalization.

Usage:  python tools/check_strict.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    # worst case: the driver prints the raw pandas cell value
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    try:
        import numpy as np
        if isinstance(v, np.ndarray):
            return "ARRAY[" + ",".join(str(x) for x in v.tolist()) + "]"
    except Exception:
        pass
    if isinstance(v, (list, tuple)):
        return "ARRAY[" + ",".join(str(x) for x in v) + "]"
    return str(v)


def canon(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns)]
    rows = ["|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-strict")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from debezium_nats_cdc_spark import catalog

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    ents = catalog.entries()
    names = [n for n in ents if not ONLY or n in ONLY]
    failures = []
    for name in names:
        e = ents[name]
        t0 = time.time()
        try:
            spark_pd = e.fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        t_spark = time.time() - t0
        if e.oracle is None:
            print(f"ok(rows-only) {name}: {len(spark_pd)} rows  [{t_spark:.1f}s]")
            continue
        try:
            duck_pd = con.sql(e.oracle).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        ok = True
        if len(spark_pd) != len(duck_pd):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
        sc, dc = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if sc != dc:
            ok = False
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
        if ok:
            a, b = canon(spark_pd), canon(duck_pd)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for x, y in diff:
                    print(f"   spark: {x[:300]}\n   duck : {y[:300]}")
                if not diff:
                    print(f"   (sets differ beyond zip; lens {len(a)} vs {len(b)})")
        if ok:
            print(f"OK   {name}: {len(spark_pd)} rows  [{t_spark:.1f}s]")
        else:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed strict")
    if failures:
        print("failing:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
