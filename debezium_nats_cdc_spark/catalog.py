"""Driver-facing query registry.

Every operator from SURVEY.md §2 that is implemented registers here with:
  - a Spark callable  (spark, sf_dir) -> DataFrame
  - an equivalent ANSI-SQL oracle string runnable by DuckDB on the same
    parquet tables (or None for genuinely non-SQL-expressible ops — the
    driver then records a weaker rows-only check)
  - the SURVEY §2 operator ids it covers (for the judge's parity check)

Column-name parity rule (driver contract): the compare sorts columns by
name before hashing, so every computed column is aliased identically in
the Spark code and the oracle SQL.

Numeric parity rules (hard-won, see tests/test_corpus_ops.py and the
driver's CORRECTNESS_r*.json three-way compares):
  - money/derived aggregates are computed on DECIMAL, never summed as
    double (float summation order differs across engines)
  - DuckDB SUM(BIGINT) returns HUGEINT and AVG returns DOUBLE — oracles
    cast explicitly so schemas line up with Spark's types
  - raw double *columns* pass through untouched (bit-identical in parquet)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CatalogEntry:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: list[str] = field(default_factory=list)
    doc: str = ""


_REGISTRY: dict[str, CatalogEntry] = {}


def register(name: str, oracle: str | None, survey_ids: list[str], doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame query to the catalog."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = CatalogEntry(name, fn, oracle, survey_ids, doc or (fn.__doc__ or ""))
        return fn

    return wrap


def _load_modules() -> None:
    # Import for registration side effects only.  Since round 6 the
    # import order here is deliberately NOT load-bearing: entries()
    # reorders by the explicit _WINDOW_ORDER plan below, so a stray
    # module-scope import elsewhere (the r5 failure: __spark_entry__
    # imported operators.cdc_queries before this ran, silently
    # displacing the planned window tail — VERDICT r5) can no longer
    # change what the driver verifies.
    from .operators import (  # noqa: F401
        dedup,
        sampling,
        curation,  # imports text first
        multimodal,
        windows,
        aggregates,
        joins,
        quantize,
        advanced,
        cdc_queries,
        similarity,
        stats,
        text,
        ranking,
        layout,
        linalg,
        funnel,
        analytics,
        engagement,
        components,
        monitor_publish,
        ann_lifecycle,
    )


# The driver's correctness harness verifies the FIRST 50 entries of
# queries() per round.  This list IS the window, verbatim — the first 50
# names below are the round-8 oracle window, in execution order.
# Rotation rules (tools/check_rotation.py audits both, driver-effectively):
#   A. every query whose defining module changed this round is in-window;
#   B. remaining slots go to the queries whose last driver-green row is
#      oldest (nothing stays unverified for >1 round beyond the latest
#      artifact).
#
# STANDING ALTERNATION POLICY (since r7): with 81 queries and 50 slots,
# max staleness ≤1 round is achievable only by strict alternation.  The
# catalog splits into two halves that swap in-window residency every
# round:
#   half ODD  (31): cdc_queries 11, text 9, curation 3, multimodal 5,
#                   aggregates' displaced 3 — in-window on ODD rounds;
#   half EVEN (31): joins 9, windows 7, sampling 6, advanced 7,
#                   quantize-or-sim remainder — in-window on EVEN rounds;
#   the ~19 remaining slots each round go to rule-A (touched/new
#   modules) first, then to fillers from the off-phase half.
# Rule A overrides the phase: a touched module's queries enter the
# window regardless of phase, displacing fillers only (never the
# on-phase half).  Result: every query is driver-green in round N or
# N−1, by construction.
#
# Round-17 plan (ODD phase, per the window plan that closes the r16
# rotation statement in COVERAGE.md).  The ODD-half queries lead the
# window verbatim in their CORRECTNESS_r15 artifact order — all were
# r15-green in the driver artifact AND 100/100 green in the repo's own
# STRICT_r16 sweep on the final r16 tree.
# Rule A after the r17 artifact: removing the dedup operators'
# cross-query caches and the r8 connected-components twin touched
# operators/dedup.py and operators/components.py, so the seven queries
# they define close the window.  With no filler slots in an exact
# 50-query half, they displace the last seven ODD-half entries
# (stats_key_skew_report .. events_dau_wau_approx), all r17-green, so
# rule B still holds for them.
# Out of window (50): the EVEN half minus those seven dedup queries
# (all r16-green) plus the seven displaced ODD queries (r17-green).
# Catalog total: 100 = two exact 50-query halves.
_WINDOW_ORDER: list[str] = [
    "cdc_subject_route",
    "cdc_envelope_build",
    "cdc_dedup_exact",
    "cdc_retention_filter",
    "cdc_validate_split",
    "cdc_json_extract",
    "cdc_tumbling_window",
    "cdc_masking_pii",
    "cdc_union_heterogeneous",
    "cdc_set_intersect",
    "cdc_set_except",
    "text_token_stats",
    "text_quality_score",
    "text_lang_distribution",
    "text_fingerprint",
    "text_token_frequencies",
    "text_language_id",
    "text_bpe_token_count",
    "text_repetition_filter",
    "text_unigram_logprob",
    "text_tfidf_topk",
    "text_bm25_topk",
    "corpus_curation",
    "corpus_decontaminate",
    "pii_scrub_customers",
    "corpus_mixture_plan",
    "pii_erasure_cascade",
    "mm_binary_metadata",
    "mm_frame_sample",
    "mm_resize_plan",
    "mm_audio_chunk_plan",
    "agg_pricing_summary",
    "agg_daily_event_volume",
    "agg_metrics_by_type",
    "agg_rollup_region_nation",
    "agg_grouping_sets_priority",
    "agg_pivot_returnflag",
    "agg_regional_revenue",
    "events_anomaly_zscore",
    "sim_cosine_topk",
    "sim_nearest_centroid",
    "sim_embedding_neardup",
    "ann_search_after_lifecycle",
    "dedup_exact_survivors",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_exact_substring",
    "dedup_prefix_cluster",
    "dedup_cluster_assign_delta",
]


def entries() -> dict[str, CatalogEntry]:
    _load_modules()
    missing = [n for n in _WINDOW_ORDER if n not in _REGISTRY]
    if missing:
        raise RuntimeError(
            f"catalog._WINDOW_ORDER names unregistered queries: {missing}"
        )
    ordered = {n: _REGISTRY[n] for n in _WINDOW_ORDER}
    for n, e in _REGISTRY.items():  # everything else keeps registration order
        ordered.setdefault(n, e)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: e.fn for n, e in entries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: e.oracle for n, e in entries().items() if e.oracle is not None}
