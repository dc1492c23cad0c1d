"""Connected components for near-dup cluster assignment.

``dedup_cluster_assign_delta`` clusters the Jaccard pair set of
``dedup_ngram_jaccard`` into components.  The measured decomposition
(BENCHLOG round-11) split its cost into the Jaccard pair pipeline and
the CC fixed-point loop — and showed the loop's cost at sf0.1 is NOT
data: the matched graph is 256 edges / 477 nodes, so ~1.5 s was pure
per-round scheduling + localCheckpoint overhead.  That floor is
attacked two ways, picked adaptively by edge count:

0. **Size-gated driver-local union-find** (the broadcast-join analogy:
   below a threshold, centralizing beats distributing).  Under
   ``_DRIVER_CC_MAX_EDGES`` pairs the edge set is collected and solved
   exactly in O(E α(E)) Python — microseconds at sf0.1 versus O(log d)
   Spark rounds of fixed overhead.  Above the gate (the 100 TB
   matched-pair set), the delta iteration below is the path.  The gate
   is probed with ONE ``limit(gate+1).collect()`` job over the
   checkpointed PAIR set — under the gate that head IS the whole edge
   set, so no separate count job and no symmetric-doubled
   materialization on the driver path (BENCHLOG round-12).

The distributed path is min-label propagation with three properties
(both paths are property-tested against the same union-find
reference):

1. **Fused convergence probe.**  A plain loop runs THREE shuffle joins
   per round: neighbor-min, pointer-jump, and a labels-vs-previous
   join just to ask "did anything change?".  Here the previous label
   rides along as ``_plbl`` through the round's two joins and the
   changed flag is computed in the same projection, so the probe is a
   filter-limit-count over the round's already-materialized
   localCheckpoint — no third join, no extra shuffle, and the count
   doubles as the next round's frontier size.

2. **Frontier (delta) propagation.**  Min-label propagation only needs
   to push labels that CHANGED last round: if neighbor u's label is
   unchanged since v last folded it in, ``lbl(v) <= lbl(u)`` already
   holds (labels are monotone non-increasing), and any label that
   decreases — via the neighbor fold OR the pointer jump — lands in
   the next frontier, so its neighbors re-fold it next round.  An
   empty frontier is therefore exactly the fixed point: every edge is
   label-consistent in both directions, so labels are constant per
   component, and since every label is a node id of its own component
   (bounded below by the component minimum, which keeps its own id),
   that constant is the component min.  The neighbor-min join — the
   loop's dominant shuffle — shrinks with the frontier instead of
   re-shuffling every matched doc every round; at 100 TB the frontier
   after round 2 is a tiny fraction of the matched set (most near-dup
   components are pairs/triangles that settle in one round).

3. **Pointer jumping.**  ``lbl <- label(lbl)`` doubles effective label
   distance per round, so long chains converge in O(log diameter)
   rounds — the large-star/small-star bound — with a 20-round safety
   valve that RAISES rather than returning split clusters.

Reference parity: SURVEY §2.K1 near-dup clustering; the reference
`sql/init-db.sql` models dedup state only — the clustering layer is
specified, not implemented, in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..catalog import register
from .dedup import _cluster_oracle, _jaccard_edges

# Safety valve only — convergence is detected per round, not assumed.
# Pointer jumping doubles reachable label distance each round, so 20
# rounds covers component diameter ~2^20; any graph still moving after
# that indicates a bug, and we raise rather than return split clusters.
_CC_MAX_ROUNDS = 20

# Size gate for the driver-local fast path (the broadcast-join analogy:
# below the threshold, centralizing beats distributing).  500k undirected
# pairs ≈ 1M symmetric rows ≈ 16 MB of longs collected — far inside any
# driver's memory, and union-find folds them in ~1 s of Python, versus
# O(log d) Spark rounds at ~0.3-0.4 s of pure scheduling + checkpoint
# overhead EACH even when the graph is trivial (the measured sf0.1
# floor: 256 edges / 477 nodes still cost ~1.5 s in the distributed
# loop — BENCHLOG round-11 decomposition).
_DRIVER_CC_MAX_EDGES = 500_000


def _uf_solve(pair_rows) -> dict:
    """Exact CC over collected pairs: union-find with the
    min-id-keeps-root discipline (attaching the larger root under the
    smaller preserves root == component min by induction), relabelled
    with a final find pass.  Returns {node: component_min}; the input
    is bounded by the caller's gate."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _gated_pairs(pairs: DataFrame, driver_max_edges: int):
    """Materialize the pair set once and probe the size gate with ONE
    job: ``limit(gate+1).collect()`` — if the head fits the gate it IS
    the whole edge set (no separate count job, no symmetric-doubled
    materialization on the driver path).  Returns (checkpointed pairs,
    collected head or None when over the gate / gate disabled)."""
    pruned = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
    if not driver_max_edges:
        return pruned, None
    head = pruned.limit(driver_max_edges + 1).collect()
    if len(head) > driver_max_edges:
        return pruned, None
    return pruned, head


def connected_components_delta(pairs: DataFrame,
                               max_rounds: int = _CC_MAX_ROUNDS,
                               driver_max_edges: int = _DRIVER_CC_MAX_EDGES,
                               ) -> DataFrame:
    """(doc_a, doc_b) undirected pairs -> (doc_id, lbl) with lbl = min
    id in the node's component.  Adaptive: a size-gated driver-local
    union-find below ``driver_max_edges`` pairs (pass 0 to disable),
    else frontier-restricted min-label propagation with pointer jumping
    and a fused convergence probe — see the module docstring for the
    exactness argument.  Both paths agree with a sequential union-find
    on every input (property-tested, both paths, in
    tests/test_corpus_ops.py)."""
    pruned, head = _gated_pairs(pairs, driver_max_edges)
    if head is not None:
        roots = _uf_solve((r[0], r[1]) for r in head)
        id_type = pruned.schema["doc_a"].dataType
        schema = StructType([StructField("doc_id", id_type),
                             StructField("lbl", id_type)])
        return pairs.sparkSession.createDataFrame(
            sorted(roots.items()), schema)
    sym = pruned.union(
        pruned.select(F.col("doc_b").alias("doc_a"),
                      F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # materialize the (cheap, checkpoint-derived) symmetric set once;
    # every loop round derives from it
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("lbl", F.col("doc_id"))
        .withColumn("_changed", F.lit(True))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        frontier = labels.filter("_changed").select(
            F.col("doc_id").alias("src"), "lbl")
        # neighbor fold over FRONTIER edges only (delta propagation)
        nbr = (
            sym.join(frontier, "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lbl").alias("_nlbl"))
        )
        folded = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.col("lbl").alias("_plbl"),
            F.least("lbl", F.coalesce("_nlbl", F.col("lbl"))).alias("lbl"),
        )
        # pointer jump: lbl <- label(lbl); the invariant lbl <= doc_id
        # makes the jumped label always <= the current one.  _plbl rides
        # along so the changed flag needs no third join.
        jump = folded.select(F.col("doc_id").alias("lbl"),
                             F.col("lbl").alias("_jlbl"))
        labels = (
            folded.join(jump, "lbl", "left")
            .select(
                "doc_id",
                F.coalesce("_jlbl", F.col("lbl")).alias("lbl"),
                (F.coalesce("_jlbl", F.col("lbl")) < F.col("_plbl"))
                .alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        # fused probe: one narrow count over the in-memory checkpoint
        if labels.filter("_changed").limit(1).count() == 0:
            return labels.select("doc_id", "lbl")
    raise RuntimeError(
        f"connected_components_delta did not converge in {max_rounds} "
        f"rounds (component diameter > 2^{max_rounds}); refusing to "
        "return split clusters"
    )


@register(
    "dedup_cluster_assign_delta",
    oracle=_cluster_oracle(),
    survey_ids=["K1"],
    doc="Near-dup cluster assignment on the adaptive CC kernel, "
        "checked against a recursive-CTE true-closure oracle over the "
        "dedup_ngram_jaccard pair set. Edge-count-gated "
        "strategy pick, the broadcast-join analogy: under 500k matched "
        "pairs the component solve is a driver-local union-find "
        "(O(E a(E)), vs O(log d) Spark rounds of pure scheduling "
        "overhead — the measured sf0.1 loop floor was ~1.5 s for a "
        "256-edge graph); above it, frontier-restricted min-label "
        "propagation with pointer jumping — the per-round neighbor-min "
        "shuffle runs over last round's CHANGED labels only and the "
        "convergence probe is fused into the round's projection "
        "instead of costing its own labels-vs-previous shuffle join. "
        "Exactness arguments: module docstring; measurements: BENCHLOG "
        "round-11.",
)
def dedup_cluster_assign_delta(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    return cluster_assignment(
        spark, _jaccard_edges(spark, sf_dir).select("doc_a", "doc_b"))


def cluster_assignment(spark: SparkSession, pairs: DataFrame,
                       driver_max_edges: int = _DRIVER_CC_MAX_EDGES,
                       ) -> DataFrame:
    """(doc_a, doc_b) pairs -> (doc_id, cluster_id, cluster_size) — the
    full cluster-assignment frame.  On the size-gated driver path the
    whole answer (labels AND sizes) is computed in Python off the one
    collected edge set and shipped back as a single literal frame: the
    r11 shape paid three extra Spark jobs here (symmetric-union
    materialization, a count for the gate, and a groupBy+join over the
    label frame for sizes) — pure scheduling overhead when the matched
    graph is hundreds of edges (BENCHLOG round-12 decomposition).
    Above the gate, the distributed delta kernel labels and the sizes
    ride one small groupBy+join over the matched-doc set, exactly as
    before."""
    pruned, head = _gated_pairs(pairs, driver_max_edges)
    if head is not None:
        from collections import Counter

        roots = _uf_solve((r[0], r[1]) for r in head)
        counts = Counter(roots.values())
        id_type = pruned.schema["doc_a"].dataType
        schema = StructType([
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
            StructField("cluster_size", LongType()),
        ])
        return spark.createDataFrame(
            [(x, r, counts[r]) for x, r in sorted(roots.items())], schema)
    labels = connected_components_delta(pruned, driver_max_edges=0)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )
