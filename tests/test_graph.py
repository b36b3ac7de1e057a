"""Connected components / canonical dedup groups (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_invoice_anomaly_detection_spark.operators.graph import (
    connected_components,
    dedup_canonical,
)


def test_components_chain_clique_isolated(spark):
    # chain 1-2-3-4 (transitivity the pair view can't see), clique {10,11,12},
    # pair {20,21}; node 30 isolated (absent from edges entirely)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r.node: r.comp for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_canonical_keeps_one_per_component(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    all_ids = spark.range(1, 13).select(F.col("id").alias("doc_id"))
    out = dedup_canonical(pairs, all_ids)
    rows = {r.doc_id: (r.canonical_id, r.is_kept) for r in out.collect()}
    assert rows[1] == (1, True)
    assert rows[2] == (1, False)
    assert rows[3] == (1, False)
    assert rows[10] == (10, True)
    assert rows[11] == (10, False)
    # edge-free docs are their own canonical and survive
    for i in (4, 5, 6, 7, 8, 9, 12):
        assert rows[i] == (i, True)
    kept = [d for d, (_, k) in rows.items() if k]
    assert len(kept) == len(set(r[0] for r in rows.values()))


def test_components_raises_without_convergence(spark):
    # a 6-chain needs ~5 rounds; max_iter=1 must fail loudly, not silently
    # return a half-propagated labeling
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(pairs, max_iter=1)


def test_components_random_graphs_match_union_find(spark):
    # Frontier-driven propagation (only changed labels re-announce) must
    # reach the same fixpoint as full re-propagation on every topology.
    # Long chains are the adversarial case: the min label crosses the
    # chain one hop per round, so rounds 2+ run entirely off the frontier
    # — a bug that under-sends from it shows up as a wrong (too-high)
    # label at the far end, which union-find catches.
    import random

    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        n = 60
        edges = [(i, i + 1) for i in range(1, 25)]  # 25-node chain
        edges += [
            (rng.randrange(30, n), rng.randrange(30, n)) for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        rng.shuffle(edges)

        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted({x for e in edges for x in e})
        # canonical = min node id in the component, matching min-label
        comp_min: dict[int, int] = {}
        for x in nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: comp_min[find(x)] for x in nodes}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        # max_iter=40: the 25-node chain needs 24 propagation rounds + 1
        # quiescent round — exactly the default 25, so the default would
        # sit on the no-fixpoint boundary (r6 ADVICE); give it headroom.
        got = {
            r.node: r.comp
            for r in connected_components(pairs, max_iter=40).collect()
        }
        assert got == want, f"trial {trial}"
        # the star variant must reach the identical fixpoint — and in
        # O(log n) rounds: the 25-node chain that costs propagation 24
        # rounds converges well inside 10 star alternations
        got_star = {
            r.node: r.comp
            for r in connected_components(
                pairs, max_iter=10, algorithm="star"
            ).collect()
        }
        assert got_star == want, f"star trial {trial}"


def test_star_components_basic_topologies(spark):
    # same topologies as the propagation test: chain (the case star exists
    # for), clique, pair; self-loop node 30 kept as its own singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
         (30, 30)],
        "id_a long, id_b long",
    )
    got = {
        r.node: r.comp
        for r in connected_components(pairs, algorithm="star").collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30,
    }


def test_star_long_chain_logarithmic_rounds(spark):
    # a 64-node chain needs ~63 propagation rounds but must converge in
    # O(log n) star alternations — 12 is generous headroom over log2(64)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    got = {
        r.node: r.comp
        for r in connected_components(
            pairs, max_iter=12, algorithm="star"
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 65)}


def test_components_rejects_unknown_algorithm(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(pairs, algorithm="bogus")


def test_auto_switches_to_star_on_long_chain(spark):
    """The crossover probe (r7 VERDICT ask #5): a 64-node chain stalls the
    propagation frontier at ~1 node/round — pure propagation cannot finish
    a 12-round budget (pinned above), but "auto" detects the stall from
    the changed-count history, switches to star seeded with the shortcut
    labels, and converges inside the SAME budget."""
    from spark_streaming_invoice_anomaly_detection_spark.operators import graph

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(pairs, max_iter=12, algorithm="propagation")
    got = {
        r.node: r.comp
        for r in connected_components(
            pairs, max_iter=12, algorithm="auto"
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 65)}
    assert graph._LAST_AUTO_SWITCHED, "stall probe must have fired"


def test_auto_star_failure_releases_edges(spark):
    """When the star phase of "auto" runs out of budget, the RuntimeError
    still leaves no CacheManager entry behind (the persisted edge list is
    released on the error path too)."""
    from spark_streaming_invoice_anomaly_detection_spark.operators import graph

    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="star"):
        connected_components(pairs, max_iter=4, algorithm="auto")
    assert graph._LAST_AUTO_SWITCHED, "stall probe must have fired"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_auto_stays_on_propagation_for_short_diameter(spark):
    """On the near-dup topology (cliques + stars, diameter <= 3) the
    frontier collapses geometrically, the probe never fires, and auto is
    plain propagation — same labels, no star rounds."""
    from spark_streaming_invoice_anomaly_detection_spark.operators import graph

    rows = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]  # clique 1-4
        + [(10, x) for x in (11, 12, 13, 14)]  # star rooted at 10
        + [(20, 21)]
    )
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    auto = {
        r.node: r.comp
        for r in connected_components(pairs, algorithm="auto").collect()
    }
    assert not graph._LAST_AUTO_SWITCHED, "probe fired on a 2-round graph"
    prop = {
        r.node: r.comp
        for r in connected_components(pairs, algorithm="propagation").collect()
    }
    assert auto == prop
    assert auto[4] == 1 and auto[14] == 10 and auto[21] == 20
