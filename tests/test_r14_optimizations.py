"""Focused tests for the r14 optimization round's operator-internal changes.

Same contract as tests/test_r13_optimizations.py: each optimization replaced
a plan shape / lifecycle while claiming value identity; these tests pin the
new internals against an independent reference formulation and the property
the optimization bought, so a silent regression fails loudly here rather
than only in bench numbers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.errors import BindError


# --- bounded components: driver union-find == distributed fixpoint ------------


def test_components_bounded_matches_distributed(spark):
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components,
        connected_components_bounded,
    )

    import random

    rng = random.Random(1414)
    for trial in range(4):
        n = rng.randint(5, 60)
        edges = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            edges = [(0, 1)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        dist = {
            r.doc_id: r.component for r in connected_components(df).collect()
        }
        bnd = {
            r.doc_id: r.component
            for r in connected_components_bounded(df).collect()
        }
        assert bnd == dist and bnd, f"trial {trial}: {bnd} != {dist}"


def test_components_bounded_fails_loud_on_overflow(spark):
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components_bounded,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(BindError, match="max_edges"):
        connected_components_bounded(df, max_edges=5)


def test_components_bounded_min_id_via_one_leaf_edge(spark):
    # canonical id 0 enters via one leaf edge only (mirror of the
    # distributed test_min_id_not_on_every_edge)
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components_bounded,
    )

    df = spark.createDataFrame(
        [(3, 7), (7, 12), (0, 12)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.component for r in connected_components_bounded(df).collect()
    }
    assert got == {0: 0, 3: 0, 7: 0, 12: 0}


# --- components: observe() convergence fold (one action per round) ------------


def test_components_converged_graph_exits_after_one_loop_round(spark):
    """r14 folds the convergence probe into the round's materialization
    (an observe() changed-row metric riding the eager localCheckpoint's
    one action, instead of eager-checkpoint + isEmpty). Behavior
    pin: a graph whose init aggregation already reaches the fixpoint
    (single edge) must run exactly ONE confirming loop round — the init
    (round 1) plus the round that observes changed == 0 — and the labels
    must still be exact. Job-count evidence for the fold itself lives in
    plans/r14/profile (tools/profile_queries.py)."""
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
    rounds: list[int] = []
    out = connected_components(df, on_round=rounds.append)
    labels = {(r.doc_id, r.component) for r in out.collect()}
    assert labels == {(7, 7), (9, 7)}
    assert rounds == [1, 2], rounds


# --- kmv: flagged union + single-row stats == semi-join reference -------------


def test_kmv_flagged_union_matches_semi_join_reference(spark):
    from duckdb_nats_jetstream_spark.operators import kmv as KMV

    # overlapping synthetic sets, both larger than K so the sketch caps
    a_vals = [(f"v{i}",) for i in range(400)]
    b_vals = [(f"v{i}",) for i in range(250, 700)]
    ka = KMV.kmv_sketch(spark.createDataFrame(a_vals, "v string"), "v")
    kb = KMV.kmv_sketch(spark.createDataFrame(b_vals, "v string"), "v")

    got = KMV.kmv_intersection_stats(
        KMV.kmv_union_with_membership(ka, kb)
    ).collect()[0]

    # reference: the r13 shape — distinct union sketch + two semi-joins
    ku = KMV.kmv_union(ka, kb)
    est = KMV.kmv_estimate(ku).collect()[0]
    n_match = (
        ku.join(ka, "h", "left_semi").join(kb, "h", "left_semi").count()
    )
    assert got.n_union == est.n_sketch
    assert got.est_union == est.estimate  # bit-identical double
    assert got.n_match == n_match
    assert 0 < got.n_match < got.n_union  # non-trivial overlap


def test_kmv_flagged_union_below_k_is_exact(spark):
    from duckdb_nats_jetstream_spark.operators import kmv as KMV

    a = KMV.kmv_sketch(
        spark.createDataFrame([("x",), ("y",)], "v string"), "v"
    )
    b = KMV.kmv_sketch(
        spark.createDataFrame([("y",), ("z",)], "v string"), "v"
    )
    got = KMV.kmv_intersection_stats(
        KMV.kmv_union_with_membership(a, b)
    ).collect()[0]
    assert got.n_union == 3 and got.n_match == 1
    assert got.est_union == 3.0  # below-k arm: exact count


# --- bm25 defer lifecycle: lazy branch == eager branch, cache handed back -----


def test_bm25_topk_defer_matches_eager(spark):
    from duckdb_nats_jetstream_spark.operators.retrieval import bm25_topk
    from duckdb_nats_jetstream_spark.tables import cached

    docs = spark.createDataFrame(
        [(i, f"term{i % 3} filler words here number{i}") for i in range(30)],
        "doc_id long, text string",
    )
    eager = {tuple(r) for r in bm25_topk(docs, ["term0"], topk=5).collect()}

    caches: list = []
    deferred = bm25_topk(docs, ["term0"], topk=5, defer=caches)
    assert len(caches) == 1, "deferred base cache must be handed back"
    with cached(*caches):
        got = {tuple(r) for r in deferred.collect()}
    assert got == eager and got
    # the deferred path must leave nothing behind once the caller cleans up
    jspark = spark._jsparkSession
    assert jspark.sharedState().cacheManager().isEmpty()


def test_hybrid_fusion_single_checkpoint(spark, sf_dir):
    """The hybrids must materialize ONCE per fusion (the fused top-k), not
    once per candidate branch — the pre-checkpoint capture hook must see a
    single localCheckpoint whose plan contains BOTH generators' scans."""
    from duckdb_nats_jetstream_spark.plans.audit import capture_checkpoint_plans
    from duckdb_nats_jetstream_spark.queries.pipeline6 import sim_hybrid_rrf

    with capture_checkpoint_plans() as plans:
        sim_hybrid_rrf(spark, sf_dir)
    ckpts = [p for p in plans if "InMemoryTableScan" in p]
    assert len(plans) == 1, f"expected one fused materialization, got {len(plans)}"
    assert ckpts, "fused plan must read the deferred BM25 base from cache"
    jspark = spark._jsparkSession
    assert jspark.sharedState().cacheManager().isEmpty()


# --- dsir: persisted (doc,bucket) base — one feature-hash pass -----------------


def test_dsir_select_single_explode_scan(spark):
    from duckdb_nats_jetstream_spark.operators.dsir import dsir_select
    from duckdb_nats_jetstream_spark.plans.audit import capture_checkpoint_plans

    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma" if i % 3 == 0 else "delta epsilon zeta", i % 3 == 0)
            for i in range(30)
        ],
        "doc_id long, text string, t boolean",
    )
    with capture_checkpoint_plans() as plans:
        out = dsir_select(docs, is_target=F.col("t"), topk=5, n_buckets=16)
        rows = out.collect()
    assert 0 < len(rows) <= 5
    ckpt = [p for p in plans if "InMemoryTableScan" in p]
    assert ckpt, "expected the scoring pass to read the cached (doc,bucket) base"
    # (plan-string Generate counts over-state shared work — a persisted
    # relation's child plan prints under each InMemoryRelation consumer —
    # so single-pass-ness is pinned by the cached-scan assertion above)
    jspark = spark._jsparkSession
    assert jspark.sharedState().cacheManager().isEmpty()
