"""Connected components over a near-duplicate pair list — the step that
turns MinHash/Jaccard PAIRS into canonical document CLUSTERS (transitive
closure), which is what a dedup pipeline actually keys its keep/drop
decision on at 100 TB.

Algorithm: hash-min label propagation. Every vertex starts labeled with its
own id; each round, labels flow across edges and every vertex keeps the
minimum label it has seen; fixpoint = each vertex holds its component's
minimum id. Rounds needed = graph diameter — near-dup graphs are dense
little clique-ish clusters, so 2-4 rounds in practice. Per round the cost
is one edge-sized shuffle (join) + one vertex-sized aggregation, both plain
DataFrame ops Catalyst/AQE handle; lineage is truncated per round with
``localCheckpoint`` so the plan doesn't grow with iterations (on a cluster
with an HDFS checkpoint dir, swap for ``checkpoint``).

For adversarial graphs (long chains / power-law), plain hash-min needs
diameter rounds — a 10k-vertex chain would blow any fixed iteration budget
and silently return unconverged labels. Each round therefore also does one
**pointer-doubling** step (labels join labels: ``comp ← min(comp,
comp[comp])`` — the shortcutting half of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): the distance a label travels
doubles every round, so convergence is O(log diameter) — ~15 rounds for a
30k chain, verified in tests — at the cost of one extra vertex-sized
self-join per round (cheap next to the edge-sized propagation join).

The reference engine has no graph surface at all — this belongs to the
north-star pipeline operators. Oracle: a recursive CTE computes the same
min-reachable-id fixpoint in DuckDB (see pipeline.DEDUP_COMPONENTS_SQL).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.tables import cached


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "doc_id",
    comp_out: str = "component",
    max_iter: int = 50,
    edges_unique: bool = False,
    on_round: Optional[Callable[[int], None]] = None,
    skew_safe: bool = False,
) -> DataFrame:
    """(vertex, component-min-id) for every vertex appearing in ``edges``.

    Returns one row per distinct vertex; ``comp_out`` is the smallest vertex
    id in its connected component. Deterministic for any edge order.

    ``edges_unique=True`` skips the dedup shuffle: pass it when the pair
    list is distinct with ``src < dst`` by construction (every pair
    generator in :mod:`operators.dedup` emits exactly that), making the
    two-direction union automatically duplicate-free.

    ``on_round``, if given, is called with the 1-based round number after
    each propagation round has fully materialized (the round's single
    checkpoint-and-count action — r14 folded the old separate convergence
    probe into it) — convergence progress is otherwise invisible on a
    long-diameter graph, and the stress harness uses it to measure rounds
    and per-round wall.

    ``skew_safe=True`` materializes the intermediate label relation before
    the pointer-doubling self-join. Pointer doubling SELF-INFLICTS a hot
    key as a giant component converges — every vertex's label becomes the
    same component-min, so the hop join's key collapses onto one value —
    and that join's child carries the neighbor-min aggregate, which puts
    it in the agg-under-join class AQE's ``OptimizeSkewedJoin`` cannot
    split (SCALING.md batch 5). Measured on a 10M-vertex single-hub graph
    (batch 13): a 12.6× straggler AQE-off, still 4.2× with a tuned skew
    threshold, 2.5× and HALF the wall (25.4 → 13.7 s) with
    ``skew_safe=True``. Default off because near-dup
    graphs are df-capped upstream into small components (the hot label
    never forms) and the flag costs one extra vertex-sized checkpoint per
    round; flip it when feeding arbitrary edge lists that may contain a
    giant component, together with
    ``spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`` sized
    to the vertex relation (the default 256m is above a 10M-vertex hot
    partition, so the rescue silently no-ops).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # undirected: propagate both ways; distinct so multi-edges cost nothing
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not edges_unique:
        und = und.distinct()
    with cached(und):
        # Init IS the first propagation round: every vertex appears as `a`
        # in the undirected edge list, so min(self, direct neighbors) in one
        # aggregation replaces the separate vertex-distinct job + one full
        # loop iteration.
        labels = (
            und.groupBy(F.col("a").alias("id"))
            .agg(F.least(F.first("a"), F.min("b")).alias("comp"))
            .localCheckpoint(eager=True)
        )
        if on_round is not None:
            on_round(1)  # the init aggregation IS the first propagation round
        labels = _propagate(und, labels, max_iter, skew_safe, on_round)
    return labels.select(F.col("id").alias(id_out), F.col("comp").alias(comp_out))


def connected_components_bounded(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "doc_id",
    comp_out: str = "component",
    max_edges: int = 1_000_000,
) -> DataFrame:
    """Driver-side union-find fast path for edge lists that are BOUNDED BY
    CONSTRUCTION (r13 verdict ask #4, guide §1.2 pass elimination).

    The iterative :func:`connected_components` pays a persisted edge
    relation plus one checkpoint + one convergence job per round — the
    right lifecycle for a corpus-sized graph, pure overhead for a pair
    list over a top-k selection whose size is capped AT ANY CORPUS SCALE
    (e.g. ``docs_curation_v4``'s kept set is ≤ topk rows by construction,
    so its near-dup pairs are ≤ C(topk, 2)). This variant collects the
    edge list once (the same bounded-driver-pull class as the pinned
    BPE-merge / quantile / RM3 pulls — tests/test_lint.py allowlist),
    runs union-find with path compression labeling every component by
    its MINIMUM vertex id (value-identical to the distributed fixpoint),
    and returns a local relation typed like the input.

    ``max_edges`` is a fail-loud guard, not a truncation: a caller whose
    "bounded" edge list exceeds it gets :class:`BindError`, never a
    silently wrong (or driver-OOM) answer. Do NOT use this on pair lists
    that scale with the corpus — that is exactly the driver-work §5 bans.
    """
    id_type = edges.schema[src].dataType
    rows = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .limit(max_edges + 1)
        .collect()
    )
    if len(rows) > max_edges:
        raise BindError(
            f"connected_components_bounded: edge list exceeds max_edges="
            f"{max_edges} — use connected_components for unbounded graphs"
        )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        for v in (r.a, r.b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            # union by MIN id so every root is its component's minimum —
            # the same label the distributed hash-min fixpoint converges to
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = sorted((v, find(v)) for v in parent)
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField(id_out, id_type, False),
            StructField(comp_out, id_type, False),
        ]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def _propagate(und, labels, max_iter, skew_safe, on_round):
    """Iterate propagation + pointer-doubling rounds to the fixpoint."""
    from pyspark.sql import Observation

    for _round in range(2, max_iter + 1):
        nbr_min = (
            und.alias("e")
            .join(labels.alias("l"), F.col("e.a") == F.col("l.id"))
            .groupBy(F.col("e.b").alias("id"))
            .agg(F.min("l.comp").alias("nbr"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("comp").alias("old"),
            F.least(F.col("comp"), F.coalesce(F.col("nbr"), F.col("comp"))).alias(
                "comp1"
            ),
        )
        # Pointer doubling: follow the label one hop (comp ← comp[comp]).
        # Every comp value is itself a vertex id with a labels row, so the
        # lookup is a vertex-sized self-join; it doubles the distance a
        # minimum travels per round, turning chain graphs from O(diameter)
        # into O(log diameter) rounds.
        if skew_safe:
            # cut the nbr_min aggregate out of the hop join's stage so
            # AQE can split the converged-label hot key (see docstring)
            stepped = stepped.localCheckpoint(eager=False)
        hop = stepped.select(
            F.col("id").alias("cid"), F.col("comp1").alias("ccomp")
        )
        # Convergence metric RIDES the materialization job (r14, guide
        # §1.2): an `observe` CollectMetrics node computes the changed-row
        # count inside the eager checkpoint's own job — measured 1 job per
        # round vs 2 for BOTH the old eager-checkpoint + isEmpty probe and
        # a lazy-checkpoint + count fold (AQE gives the count its own
        # sub-job). Observation names must be unique per query execution,
        # hence the round suffix; id() disambiguates concurrent callers.
        obs = Observation(f"cc_upd_{id(und)}_{_round}")
        observed = (
            stepped.join(hop, stepped.comp1 == hop.cid, "left")
            .select(
                "id",
                F.least(
                    F.col("comp1"), F.coalesce(F.col("ccomp"), F.col("comp1"))
                ).alias("comp"),
                (
                    F.least(
                        F.col("comp1"), F.coalesce(F.col("ccomp"), F.col("comp1"))
                    )
                    < F.col("old")
                ).alias("upd"),
            )
            .observe(obs, F.sum(F.col("upd").cast("long")).alias("n_upd"))
        )
        labels = observed.localCheckpoint(eager=True)
        if on_round is not None:
            on_round(_round)
        # obs.get follows the eager checkpoint's own action, so it never waits
        if not obs.get["n_upd"]:
            break
    return labels
