"""Semantic unit tests for the r2 corpus operators — crafted inputs with
hand-computable answers (the sf oracles check engine parity; these check
the operators mean what they claim).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, lang string, source string, n_chars int, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_repetition_filter_flags_looping_text(spark, tmp_path):
    from debezium_nats_cdc_spark.operators.text import text_repetition_filter

    loop = " ".join(["spam ham eggs"] * 20)          # 3-gram loop
    clean = " ".join(f"w{i}" for i in range(60))     # all distinct
    path = str(tmp_path / "documents.parquet")
    _docs(spark, [
        (1, "en", "s", len(loop), loop),
        (2, "en", "s", len(clean), clean),
    ]).write.parquet(path)
    out = {r["doc_id"]: r for r in
           text_repetition_filter(spark, str(tmp_path)).collect()}
    assert out[1]["is_repetitive"] and out[1]["rep_ratio"] > 0.8
    assert not out[2]["is_repetitive"] and out[2]["rep_ratio"] == 0.0
    # n_grams = n_tokens - 2
    assert out[2]["n_grams"] == 58 and out[2]["n_distinct"] == 58


def test_pack_sequences_conserves_tokens_and_fills(spark, tmp_path):
    from debezium_nats_cdc_spark.operators.sampling import (
        _PACK_MAX_TOKENS,
        corpus_pack_sequences,
    )

    rows = [(i, "en", "s", 10, " ".join(f"t{j}" for j in range(500)))
            for i in range(40)]  # 40 docs x 500 tokens
    path = str(tmp_path / "documents.parquet")
    _docs(spark, rows).write.parquet(path)
    out = corpus_pack_sequences(spark, str(tmp_path)).collect()
    # token conservation: every token lands in exactly one sequence
    assert sum(r["seq_tokens"] for r in out) == 40 * 500
    assert sum(r["n_docs"] for r in out) == 40
    # seq ids within each bucket are dense from 0
    by_bucket: dict[int, list[int]] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["seq_id"])
    for seqs in by_bucket.values():
        assert sorted(seqs) == list(range(len(seqs)))
    # a sequence never starts past the previous one's running total:
    # per-bucket totals imply fill <= max+one-doc-overhang
    for r in out:
        assert r["seq_tokens"] <= _PACK_MAX_TOKENS + 500


def test_decontaminate_detects_planted_leak(spark, tmp_path):
    from debezium_nats_cdc_spark.operators.curation import corpus_decontaminate
    from debezium_nats_cdc_spark.operators.sampling import TRAIN_HEX_CUTOFF
    import hashlib

    def is_train(doc_id: int) -> bool:
        return (hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
                < TRAIN_HEX_CUTOFF)

    train_id = next(i for i in range(1000) if is_train(i))
    val_id = next(i for i in range(1000) if not is_train(i))
    clean_val = next(i for i in range(val_id + 1, 2000) if not is_train(i))

    leaked = " ".join(f"leak{j}" for j in range(20))   # 20 tokens shared
    path = str(tmp_path / "documents.parquet")
    _docs(spark, [
        (train_id, "en", "s", 10, leaked + " trainextra1 trainextra2"),
        (val_id, "en", "s", 10, leaked + " valextra1 valextra2"),
        (clean_val, "en", "s", 10, " ".join(f"c{j}" for j in range(30))),
    ]).write.parquet(path)
    out = {r["doc_id"]: r for r in
           corpus_decontaminate(spark, str(tmp_path)).collect()}
    assert set(out) == {val_id, clean_val}  # report covers ALL val docs
    assert out[val_id]["contaminated"] and out[val_id]["n_shared"] >= 13
    assert not out[clean_val]["contaminated"]
    assert out[clean_val]["n_shared"] == 0


def test_quantize_int8_roundtrip_error_bound(spark, tmp_path):
    from debezium_nats_cdc_spark.operators.quantize import emb_quantize_int8

    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, i % 3, rng.normal(size=16).astype("float32").tolist())
            for i in range(50)]
    rows.append((99, 0, [0.0] * 16))  # zero vector: scale 0 guard
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["vec_id"]: r for r in
           emb_quantize_int8(spark, str(tmp_path)).collect()}
    assert len(out) == 51
    for vid, r in out.items():
        if vid == 99:
            assert r["scale"] == 0.0 and r["rmse"] == 0.0
            continue
        # max quantization error per lane is scale/2 -> rmse <= scale/2
        assert r["rmse"] <= r["scale"] / 2 + 1e-6
        assert 1 <= r["n_saturated"] <= 16  # the max lane hits 127


def test_cluster_assign_chains_transitively(spark, tmp_path):
    """A->B->C near-dup chain (A~C not directly similar) must land in ONE
    cluster with the min doc_id as representative."""
    from debezium_nats_cdc_spark.operators.components import (
        dedup_cluster_assign_delta,
    )

    base = [f"tok{i}" for i in range(30)]
    a = " ".join(base)
    b = " ".join(base[10:] + [f"x{i}" for i in range(10)])   # overlaps a
    c = " ".join(base[20:] + [f"x{i}" for i in range(20)])   # overlaps b, not a
    lone = " ".join(f"z{i}" for i in range(30))
    path = str(tmp_path / "documents.parquet")
    _docs(spark, [
        (1, "en", "s", 10, a), (2, "en", "s", 10, b),
        (3, "en", "s", 10, c), (4, "en", "s", 10, lone),
    ]).write.parquet(path)
    out = {r["doc_id"]: r for r in
           dedup_cluster_assign_delta(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}  # lone doc has no pairs -> not clustered
    assert {r["cluster_id"] for r in out.values()} == {1}
    assert all(r["cluster_size"] == 3 for r in out.values())


def test_bucket_cap_anchor_fallback_keeps_recall_and_is_observed(
        spark, monkeypatch, tmp_path):
    """Over-cap buckets must DEGRADE, not vanish (VERDICT r4 task #2):
    pair expansion falls back to anchor pairing — every member still
    pairs with the bucket's min-id doc — and bucket_drop_stats reports
    recovered-vs-skipped so the degradation is measurable."""
    from debezium_nats_cdc_spark.operators import dedup

    monkeypatch.setattr(dedup, "BUCKET_CAP", 5)
    # 8 identical boilerplate docs -> degenerate buckets of size 8 > 5;
    # 2 near-dup docs -> size-2 buckets, below the cap (full expansion)
    boiler = " ".join(f"b{i}" for i in range(20))
    near_a = "alpha beta gamma delta epsilon zeta"
    near_b = "alpha beta gamma delta epsilon eta"
    rows = [(i, "en", "s", len(boiler), boiler) for i in range(8)]
    rows += [(100, "en", "s", len(near_a), near_a),
             (101, "en", "s", len(near_b), near_b)]
    docs = _docs(spark, rows)
    anchor_pairs = {(0, i) for i in range(1, 8)}  # member vs min-id doc

    # --- jaccard (inverted index per shingle) ---
    pairs = dedup.jaccard_pair_counts(
        dedup.doc_shingles(docs).filter(F.col("n_toks") >= 3))
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["uni"])
           for r in pairs.collect()}
    # anchor recovery: each boiler doc pairs with doc 0 at full overlap
    # (all 18 shared shingles counted — anchor is every bucket's min)
    assert set(got) == anchor_pairs | {(100, 101)}
    assert all(got[p] == (18, 18) for p in anchor_pairs)
    st = dedup.bucket_drop_stats("jaccard")
    # 18 distinct shingles per boiler doc, each shared by all 8 copies:
    # each over-cap bucket recovers 7 anchor pairs, skips C(8,2)-7=21
    assert st["capped_buckets"] == 18
    assert st["recovered_pairs"] == 18 * 7
    assert st["skipped_pairs"] == 18 * 21
    assert st["total_buckets"] > st["capped_buckets"]

    # --- minhash (banded LSH) ---
    cands = dedup.minhash_candidates(docs)
    mh = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    assert {p for p in mh if p[0] < 8 and p[1] < 8} == anchor_pairs
    st = dedup.bucket_drop_stats("minhash")
    # identical docs share identical signatures: all 4 band buckets blow the cap
    assert st["capped_buckets"] == 4 and st["recovered_pairs"] == 4 * 7
    assert st["skipped_pairs"] == 4 * 21

    # --- simhash (chunk-bucketed) ---
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    sh = {(r["doc_a"], r["doc_b"])
          for r in dedup.dedup_simhash(spark, str(tmp_path)).collect()}
    assert {p for p in sh if p[0] < 8 and p[1] < 8} == anchor_pairs
    st = dedup.bucket_drop_stats("simhash")
    assert st["capped_buckets"] == 4 and st["recovered_pairs"] == 4 * 7

    # before any run of an op key, stats are None
    assert dedup.bucket_drop_stats("never_ran") is None


def test_pair_cache_invalidates_on_table_rewrite(spark, tmp_path):
    """A documents table rewritten mid-session must yield FRESH pairs
    from every dedup query — nothing computed from the pre-rewrite
    table may be served after it (VERDICT r3 task #7)."""
    from debezium_nats_cdc_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    sf = str(tmp_path)
    words = [f"w{i}" for i in range(39)]
    nums = [f"n{i}" for i in range(39)]
    a, b = " ".join(words + ["x"]), " ".join(words + ["y"])
    c, d = " ".join(nums + ["x"]), " ".join(nums + ["y"])

    def write(rows):
        _docs(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            sf + "/documents.parquet")

    def pairs(query):
        return {(r["doc_a"], r["doc_b"]) for r in query(spark, sf).collect()}

    write([(1, "en", "s", 1, a), (2, "en", "s", 1, b), (3, "en", "s", 1, c)])
    assert pairs(dedup_ngram_jaccard) == {(1, 2)}
    assert pairs(dedup_minhash_lsh) == {(1, 2)}

    write([(1, "en", "s", 1, a), (2, "en", "s", 1, c), (3, "en", "s", 1, d)])
    assert pairs(dedup_ngram_jaccard) == {(2, 3)}
    assert pairs(dedup_minhash_lsh) == {(2, 3)}


@pytest.mark.parametrize("query", ["dedup_cluster_assign_delta",
                                   "dedup_minhash_lsh"])
def test_dedup_results_and_jobs_do_not_depend_on_query_order(
        spark, tmp_path, query):
    """A dedup query does its own work whatever ran before it in the
    session: it runs cold, then again after dedup_ngram_jaccard and
    dedup_simhash ran on the same table, and both runs launch the same
    number of Spark jobs and return the same rows (ROADMAP aim 2:
    results never depend on query order)."""
    from debezium_nats_cdc_spark import catalog
    from debezium_nats_cdc_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    rows = []
    for f in range(4):  # four near-dup families of three docs each
        base = [f"f{f}w{i}" for i in range(30)]
        for m in range(3):
            text = " ".join(base[:29] + [f"tail{f}_{m}"])
            rows.append((10 * f + m, "en", "s", len(text), text))
    rows.append((99, "en", "s", 10, " ".join(f"z{i}" for i in range(30))))
    sf = str(tmp_path)
    _docs(spark, rows).write.parquet(sf + "/documents.parquet")
    sc = spark.sparkContext
    fn = catalog.queries()[query]

    def run(group):
        sc.setJobGroup(group, group)
        try:
            got = sorted(tuple(r) for r in fn(spark, sf).collect())
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    cold_rows, cold_jobs = run(f"order-cold-{query}")
    assert cold_rows  # the families give the query something to find
    dedup_ngram_jaccard(spark, sf).collect()
    dedup_simhash(spark, sf).collect()
    warm_rows, warm_jobs = run(f"order-warm-{query}")
    assert warm_rows == cold_rows, "rows depend on query order"
    assert warm_jobs == cold_jobs, (
        f"{cold_jobs} jobs cold vs {warm_jobs} after its neighbours ran")


@pytest.mark.parametrize("gate", [500_000, 0],
                         ids=["driver_path", "distributed_path"])
def test_connected_components_delta_matches_union_find(spark, gate):
    """Property (VERDICT r10 task 3): BOTH adaptive arms — the
    size-gated driver union-find (gate open) and the
    frontier-restricted delta loop (gate=0 forces it) — agree with a
    sequential union-find on every node over random graphs + a
    diameter-stressing path."""
    import random

    from debezium_nats_cdc_spark.operators.components import (
        connected_components_delta,
    )

    rng = random.Random(1107)
    for trial in range(5):
        n = rng.randint(5, 60)
        m = rng.randint(1, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        chain = list(range(100, 100 + rng.randint(3, 20)))
        edges += list(zip(chain, chain[1:]))

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected = {x: find(x) for x in parent}

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc_id"]: r["lbl"]
               for r in connected_components_delta(
                   df, driver_max_edges=gate).collect()}
        assert got == expected, f"trial {trial}"


def test_connected_components_delta_long_path_converges(spark):
    """Diameter 199 path: the delta kernel's pointer jumping must still
    converge in O(log d) rounds to the path minimum."""
    from debezium_nats_cdc_spark.operators.components import (
        connected_components_delta,
    )

    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["lbl"]
           for r in connected_components_delta(
               df, driver_max_edges=0).collect()}
    assert set(got) == set(range(201))
    assert set(got.values()) == {0}
