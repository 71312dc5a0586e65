"""Connected-components label propagation: semantics on literal
graphs plus the cluster-consistency property on the fixture pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fxblue_etl_spark.operators import graph
from fxblue_etl_spark.operators.graph import connected_components, dedup_components

#: the literal CC cases as edge batches: the first batch is labeled by
#: connected_components, each later batch upserted onto it
_CC_CASES = {
    # chain 1-2-3 plus island 4-5
    "chain_and_island": [[(1, 2), (2, 3), (4, 5)]],
    # two triangles joined by one bridge edge
    "bridge": [[(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)]],
    # a 12-vertex path needs several supersteps
    "long_path": [[(i, i + 1) for i in range(12)]],
    "upsert": [
        [(10, 20), (20, 30), (40, 50), (60, 70), (80, 90)],
        [
            (30, 40),   # merges {10,20,30} with {40,50} -> label 10
            (5, 60),    # new vertex 5 LOWERS component {60,70} -> label 5
            (80, 90),   # duplicate edge inside an existing component
            (100, 110), # brand-new island
        ],
    ],
    # the third batch chains both earlier components; 0 lowers
    "upsert_chain": [[(1, 2), (7, 8)], [(2, 3), (9, 10)], [(3, 7), (0, 9)]],
}


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cc_chain_and_island(spark):
    # two components, labeled by min id
    (edges,) = _CC_CASES["chain_and_island"]
    out = {
        r.id: r.component
        for r in connected_components(_edges(spark, edges)).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_cc_bridge_merges_components(spark):
    # the bridged triangles collapse to one component
    (edges,) = _CC_CASES["bridge"]
    out = connected_components(_edges(spark, edges))
    assert out.select("component").distinct().count() == 1
    assert out.agg(F.min("component")).first()[0] == 1


def test_cc_long_path_converges(spark):
    (edges,) = _CC_CASES["long_path"]
    out = connected_components(_edges(spark, edges))
    assert out.filter(F.col("component") != 0).count() == 0


def test_dedup_components_consistent_with_pairs(spark, sf_dir):
    """Every near-dup pair's endpoints must share a component, and each
    component must be labeled by its minimum member."""
    from fxblue_etl_spark.operators.similarity import embedding_near_dup

    pairs = embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    comp = dedup_components(spark, sf_dir)
    joined = (
        pairs.join(comp.withColumnRenamed("vec_id", "vec_a"), "vec_a")
        .withColumnRenamed("component", "comp_a")
        .join(comp.withColumnRenamed("vec_id", "vec_b"), "vec_b")
        .withColumnRenamed("component", "comp_b")
    )
    assert joined.filter(F.col("comp_a") != F.col("comp_b")).count() == 0
    mins = comp.groupBy("component").agg(F.min("vec_id").alias("min_member"))
    assert mins.filter(F.col("component") != F.col("min_member")).count() == 0


def test_degree_and_component_histograms_consistent(spark, sf_dir):
    from fxblue_etl_spark.operators.graph import (
        dedup_component_size_hist,
        dedup_degree_hist,
    )
    from fxblue_etl_spark.operators.similarity import embedding_near_dup

    n_pairs = embedding_near_dup(spark, sf_dir).count()
    deg = dedup_degree_hist(spark, sf_dir).collect()
    # handshake lemma: sum of degrees == 2 * |edges|
    assert sum(r["degree"] * r["n_vecs"] for r in deg) == 2 * n_pairs
    sizes = dedup_component_size_hist(spark, sf_dir).collect()
    # every component in the pair graph has >= 2 members, and the
    # node totals of both histograms agree
    assert all(r["component_size"] >= 2 for r in sizes)
    assert sum(r["component_size"] * r["n_components"] for r in sizes) == sum(
        r["n_vecs"] for r in deg
    )


def test_triangle_count_bounds(spark, sf_dir):
    from math import comb

    from fxblue_etl_spark.operators.graph import (
        dedup_component_size_hist,
        dedup_triangles,
    )

    r = dedup_triangles(spark, sf_dir).collect()[0]
    # each (a,b,c) emitted once under the a<b<c orientation
    assert r["n_triangles"] == r["n_distinct"]
    # triangles are bounded by the sum of per-component C(size, 3)
    sizes = dedup_component_size_hist(spark, sf_dir).collect()
    cap = sum(comb(s["component_size"], 3) * s["n_components"] for s in sizes)
    assert 0 <= r["n_triangles"] <= cap


def test_pagerank_exact_conservation_and_structure(spark):
    """Exact-integer PageRank invariants: Σ scaled ranks == n·S
    (teleport conservation holds exactly on a dangling-free
    symmetric graph), hub node 1 anchors its cluster, and the chain
    endpoints rank lowest in theirs."""
    from fxblue_etl_spark.operators.graph import (
        _PR_EXACT_L,
        PR_EXACT_ITERS,
        dedup_pagerank_exact,
    )

    rows = {r["node_id"]: r for r in dedup_pagerank_exact(spark, "unused").collect()}
    assert set(rows) == set(range(1, 11))
    scale = (20 * _PR_EXACT_L) ** PR_EXACT_ITERS
    assert sum(r["rank_scaled"] for r in rows.values()) == 10 * scale
    for r in rows.values():
        assert r["rank_scaled"] > 0
        assert r["rank_ppm"] == 10**6 * r["rank_scaled"] // scale
    # hub 1 (degree 3) anchors the template cluster {1..6}
    assert rows[1]["rank_scaled"] == max(rows[v]["rank_scaled"] for v in range(1, 7))
    # chain endpoints 7 and 10 are the periphery of {7..10}
    chain_min = min(rows[v]["rank_scaled"] for v in range(7, 11))
    assert chain_min in (rows[7]["rank_scaled"], rows[10]["rank_scaled"])


def test_pr_exact_graph_contract():
    """PR_EXACT_EDGES must keep every symmetrized degree a divisor of
    _PR_EXACT_L and the scaled ranks inside int64 headroom — the two
    preconditions the exact recurrence silently depends on. Guards
    future edits to the canned graph."""
    from fxblue_etl_spark.operators.graph import (
        _PR_EXACT_L,
        PR_EXACT_EDGES,
        PR_EXACT_ITERS,
        _pr_exact_reference,
    )

    deg: dict[int, int] = {}
    for a, b in PR_EXACT_EDGES:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert all(_PR_EXACT_L % d == 0 for d in deg.values()), deg
    r, s = _pr_exact_reference()
    assert sum(r.values()) == len(r) * s  # exact conservation
    # 1e6 ppm premultiply must stay inside int64
    assert max(r.values()) * 10**6 < 2**63


def test_upsert_components_matches_full_recompute(spark):
    """upsert(cc(E1), E2) ≡ cc(E1 ∪ E2) across every interesting
    delta shape: a merge of two existing components, a new vertex
    with a SMALLER id that lowers an existing label, an edge inside
    an existing component (no-op), and a brand-new island."""
    from fxblue_etl_spark.operators.graph import upsert_components

    base_edges, delta_edges = _CC_CASES["upsert"]
    labels = connected_components(_edges(spark, base_edges))
    up = {
        r.id: r.component
        for r in upsert_components(
            labels, _edges(spark, delta_edges)
        ).collect()
    }
    full = {
        r.id: r.component
        for r in connected_components(
            _edges(spark, base_edges + delta_edges)
        ).collect()
    }
    assert up == full
    assert up[50] == 10 and up[70] == 5 and up[110] == 100


def test_upsert_components_chained_batches(spark):
    """Two successive upserts equal one full recompute — the labeling
    stays a valid input for the next delta (idempotent algebra, the
    property a nightly ingest loop actually relies on)."""
    from fxblue_etl_spark.operators.graph import upsert_components

    e1, e2, e3 = _CC_CASES["upsert_chain"]
    lab = connected_components(_edges(spark, e1))
    lab = upsert_components(lab, _edges(spark, e2))
    lab = upsert_components(lab, _edges(spark, e3))
    up = {r.id: r.component for r in lab.collect()}
    full = {
        r.id: r.component
        for r in connected_components(_edges(spark, e1 + e2 + e3)).collect()
    }
    assert up == full
    assert up[8] == 1 and up[10] == 0


@pytest.mark.parametrize("case", list(_CC_CASES))
def test_superstep_path_matches_union_find(spark, monkeypatch, case):
    """Above DRIVER_CC_MAX_EDGES the Spark superstep loop runs instead
    of the driver union-find; with the bound at 0 every CC case
    above, upserts included, must get union-find's labels.  Each
    upsert link still reads the one before it, so each link gets its
    own slot."""
    from fxblue_etl_spark.operators.graph import upsert_components

    def labels():
        first, *rest = _CC_CASES[case]
        lab = connected_components(_edges(spark, first))
        for i, batch in enumerate(rest):
            lab = upsert_components(lab, _edges(spark, batch), slot=f"t.upsert{i}")
        return {r.id: r.component for r in lab.collect()}

    want = labels()
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    assert labels() == want


def test_components_upsert_equivalence_on_superstep_path(spark, sf_dir, monkeypatch):
    """The contract holds the base, upserted and full CC results live
    at once; on the superstep path each sits in its own slot, so no
    result's pin releases another's blocks before the compare."""
    from fxblue_etl_spark.operators.graph import components_upsert_equivalence

    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    r = components_upsert_equivalence(spark, sf_dir).first()
    assert r["n_vertices"] > 0
    assert r["upsert_equals_full"] == 1


@pytest.mark.parametrize(
    "fixture_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_kcore_fixpoint_inside_budget_and_invariants(spark, fixture_dir):
    """The peel must reach fixpoint inside KCORE_ROUNDS WITH ≥2
    rounds of headroom at EVERY fixture scale (round-9 advice:
    KCORE_ROUNDS=6 was zero-headroom at sf0.1 — a marginally denser
    fixture would silently truncate before the true 2-core), every
    surviving node must have in-core degree ≥ k, and the bounded
    peel must equal the unbounded python-reference fixpoint."""
    from collections import Counter

    from fxblue_etl_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
        kcore_decomposition,
    )
    from fxblue_etl_spark.operators.similarity import embedding_near_dup

    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup(spark, fixture_dir).collect()
    ]
    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        edges.add((b, a))
    # python reference peel to fixpoint (unbounded rounds)
    cur = set(edges)
    rounds_needed = 0
    while True:
        deg = Counter(a for a, _ in cur)
        keep = {a for a, c in deg.items() if c >= KCORE_K}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
        rounds_needed += 1
    assert rounds_needed <= KCORE_ROUNDS - 2, (
        f"peel needs {rounds_needed} rounds at {fixture_dir}; budget "
        f"{KCORE_ROUNDS} leaves <2 rounds of headroom"
    )
    want = Counter(a for a, _ in cur)
    got = {
        r["vec_id"]: r["core_degree"]
        for r in kcore_decomposition(spark, fixture_dir).collect()
    }
    assert got == dict(want), "bounded peel != unbounded fixpoint"
    assert all(d >= KCORE_K for d in got.values())
