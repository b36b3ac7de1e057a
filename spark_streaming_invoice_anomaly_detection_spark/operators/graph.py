"""Connected components over near-duplicate pairs.

Pairwise near-dup detection (operators/dedup.py) emits EDGES; an actual
dedup pass needs GROUPS — "keep one doc per component of the similarity
graph". Transitivity is what pairs can't express: if A~B and B~C, then
A, B, C must collapse to one canonical doc even though (A, C) was never a
candidate pair.

Two interchangeable iteration schemes (same fixpoint, pinned against each
other and union-find in tests/test_graph.py):

- min-label propagation (default): every node starts as its own component,
  then repeatedly adopts the smallest label among itself and its
  neighbors. Converges in O(graph diameter) rounds — and near-dup
  similarity graphs are short: clusters are stars/cliques around a source
  doc (diameter ≤ ~3), not long chains.
- alternating large-star/small-star (``algorithm="star"``; Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14):
  converges in O(log n) rounds regardless of diameter — the variant an
  adversarial long-chain graph at 100 TB needs, trading per-round cost
  (the edge set itself is rewritten: two joins + two distincts) for
  diameter independence.

Scale notes: state per round is one (node, comp) table partitioned by
node. Propagation is FRONTIER-driven (the delta-iteration shape of
Flink's iterate-delta and Pregel's vote-to-halt): only labels that
changed last round send messages, so round k's edge join touches
|edges incident to the frontier|, not |edges|. Labels only decrease,
and every decrease is re-sent, so each node has always seen the current
label of every neighbor — the fixpoint is identical to full
re-propagation. After round 1 the frontier collapses to the few nodes
still converging, AQE sees the runtime size of the checkpointed
frontier and broadcasts it, and the per-round cost drops from
O(|edges|) shuffled to O(frontier-incident edges). Lineage is cut
every round with localCheckpoint so the plan doesn't grow with the
iteration count (a driver-loop requirement Catalyst can't see past).
This is one of the two driver-loop iterative ops in the engine (with the
ML k-sweep) — everything row-scale stays distributed; the driver only
sees the single boolean "did any label change".
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = smallest
    node id reachable through the pair graph.

    ``pairs`` is consumed as an undirected edge list (both orientations are
    added here). Raises if the propagation hasn't converged after
    ``max_iter`` rounds — near-dup graphs converge in a handful.

    ``algorithm`` picks the iteration scheme; all reach the identical
    fixpoint (pinned against each other and union-find in tests/test_graph):

    - ``"propagation"`` (default): frontier-driven min-label propagation,
      O(diameter) rounds. Each round is one join + one agg and the
      frontier collapses after round 1.
    - ``"star"``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14),
      O(log n) rounds regardless of diameter — at the price of rewriting
      the EDGE set each round (two joins + two distincts) instead of
      touching only the frontier.
    - ``"auto"``: propagation with a frontier-stall probe — switches to
      star mid-run when the frontier stops collapsing (see
      :func:`_cc_propagation`), keeping the labels already computed as
      shortcut edges.

    Crossover (x10/x100 measured on a sf0.1 corpus replicated at constant
    duplicate density):

    ==============================  ======================  =============
    topology                        propagation             star
    ==============================  ======================  =============
    near-dup LSH graphs (stars /    **wins** — 34x wall at  42x wall at
    cliques, diameter <= ~3)        x100, 3-4 rounds        x100, rounds
                                                            cost 2 joins
                                                            + 2 distincts
    long chains (linked-page /      O(chain length) rounds  **wins** —
    temporal-id threads)            — a 1e6-node path NEVER O(log n): ~20
                                    finishes a 25-round     rounds for
                                    budget                  any 100 TB
                                                            graph
    unknown / mixed at 100 TB       use ``"auto"``: the stall probe reads
                                    the changed count the round's
                                    checkpoint job already observes (free
                                    since r12), switches once the frontier
                                    stops halving (checked from round 3),
                                    keeps both bounds
    ==============================  ======================  =============
    """
    if algorithm == "star":
        return _cc_star(pairs, src, dst, max_iter)
    if algorithm == "auto":
        return _cc_propagation(pairs, src, dst, max_iter, star_on_stall=True)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    return _cc_propagation(pairs, src, dst, max_iter, star_on_stall=False)


#: Set by _cc_propagation(star_on_stall=True) on each run: True when the
#: stall probe fired and the star phase finished the job (test hook).
_LAST_AUTO_SWITCHED: bool = False


def _cc_propagation(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
    star_on_stall: bool,
) -> DataFrame:
    """Frontier-driven min-label propagation; optionally star-on-stall.

    The stall probe (``star_on_stall=True``) reads the per-round changed
    count the loop already pays for: on a short-diameter graph it decays
    geometrically and hits 0 within ~4 rounds, while on a long-chain
    topology labels travel ONE hop per round, so the count plateaus at
    ~one node per chain per round. From round 3 on, whenever the count
    has not at least halved over the last two rounds, propagation is
    abandoned and the remaining budget goes to the O(log n) star scheme —
    seeded with the (node -> current label) SHORTCUT edges, which is
    sound because a propagated label is always the id of a node in the
    same component, so adding those edges never merges components and
    hands star the distance already covered."""
    global _LAST_AUTO_SWITCHED
    _LAST_AUTO_SWITCHED = False
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    try:
        labels = (
            edges.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .localCheckpoint()
        )
        # Round 1's frontier is every node (everyone announces its own label);
        # afterwards only nodes whose label just dropped re-announce. Any
        # neighbor that did NOT change this round already announced its
        # current label in an earlier round, so skipping it loses nothing.
        frontier = labels
        history: list[int] = []
        for _round in range(max_iter):
            if _round == 0:
                # Round 1 shortcut (r11 optimization round): every node's
                # label IS its id (comp(v) = v), so joining edges to the
                # all-nodes frontier is an identity join — min(comp(v)) over
                # neighbors is just min(v). Skipping the join removes the
                # labels-side shuffle from the one round that always touches
                # the FULL edge set (later frontiers collapse), at every
                # scale. Same aggregation result by construction; fixpoint
                # parity with star/union-find stays pinned in
                # tests/test_graph.py.
                nbr_min = edges.groupBy("u").agg(
                    F.min("v").alias("nbr_comp")
                )
            else:
                nbr_min = (
                    edges.join(frontier, edges.v == frontier.node)
                    .groupBy("u")
                    .agg(F.min("comp").alias("nbr_comp"))
                )
            # The convergence flag is FUSED into the propagation projection:
            # detecting "did any label change" is then a predicate scan of the
            # frame we just checkpointed anyway, not (as a naive loop writes
            # it) a second old-vs-new join — one fewer shuffle per round. The
            # changed COUNT is fused further (r12): an observed metric on the
            # checkpointed plan is computed DURING the checkpoint
            # materialization, so each round is ONE job instead of
            # checkpoint + count (the accumulator-in-the-checkpoint-job fusion
            # r11 left open; measured min 2.27 s vs 2.68 s / median 2.58 vs
            # 3.30 on the sf0.1 LSH graph, faster on 6 of 6 interleaved
            # alternations). Both modes now read the exact count for free, so
            # the stall probe no longer costs an extra aggregation.
            new_comp = F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            )
            obs = Observation(f"cc_changed_{uuid.uuid4().hex}")
            new_labels = (
                labels.join(nbr_min, labels.node == nbr_min.u, "left")
                .select(
                    "node",
                    new_comp.alias("comp"),
                    (new_comp < F.col("comp")).alias("changed"),
                )
                .observe(obs, F.count_if(F.col("changed")).alias("n_changed"))
                .localCheckpoint()
            )
            changed = obs.get["n_changed"]
            # Both views are filters over the frame just checkpointed — no
            # recomputation, and the frontier's runtime row count is visible
            # to AQE for the next round's join-strategy choice.
            frontier = new_labels.filter("changed").drop("changed")
            labels = new_labels.drop("changed")
            if changed == 0:
                return labels
            history.append(changed)
            if (
                star_on_stall
                and len(history) >= 3
                and history[-1] * 2 > history[-3]
            ):
                # Frontier stalled (long-chain signature: ~one hop per round).
                # Hand the remaining work to the O(log n) star scheme, seeded
                # with the labels already propagated as shortcut edges.
                _LAST_AUTO_SWITCHED = True
                shortcuts = labels.filter(
                    F.col("comp") != F.col("node")
                ).select(F.col("node").alias("u"), F.col("comp").alias("v"))
                aug = edges.select("u", "v").unionByName(shortcuts)
                # star gets what's LEFT of the budget (r9 ADVICE: a fresh
                # max_iter let auto consume up to ~2x the stated bound);
                # len(history) = propagation rounds already spent
                return _cc_star(aug, "u", "v", max_iter - len(history))
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds"
        )
    finally:
        edges.unpersist()


def _cc_star(
    pairs: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Edges are kept in canonical (a < b) orientation; each round rewrites
    the edge set twice and the set converges — in O(log n) rounds — to the
    star graph rooted at each component's minimum:

    - LARGE-STAR, per center u over its full neighborhood N(u): link every
      LARGER neighbor v > u to m = min(N(u) + {u}). Runs over the
      symmetric view so each undirected edge is processed from both ends.
    - SMALL-STAR, per center u over its SMALLER neighbors (u is the 'b'
      side of the canonical orientation): link every smaller neighbor and
      u itself to m = min of the smaller neighbors.

    Both steps only ever connect nodes already connected (paths through
    the center), so components are preserved; the potential function of
    Kiveris et al. halves every alternation, giving the O(log n) bound.
    Convergence = the small-star output equals the round's input edge set,
    at which point every edge is (component-min, member).

    Self-loops in ``pairs`` contribute a node but no edge; like the
    propagation variant, every node appearing in ``pairs`` gets a label
    row (singletons label themselves).

    r12 round shape (measured min 2.68 s vs 3.77 s / median 3.31 vs 4.03
    on the sf0.1 LSH graph, faster on 6 of 6 interleaved alternations;
    labels pinned identical to the r11 shape):

    - per-center mins come from a WINDOW aggregate (``min over
      (partition by key)``) instead of groupBy + self-join — one exchange
      of the edge set per star step instead of two (the agg's and the
      join's), at every scale;
    - ``large`` is no longer checkpointed: each round starts from the
      checkpointed ``small`` of the previous round, so lineage stays
      bounded at two star steps and the mid-round materialization was
      pure overhead;
    - the fixpoint count rides as an observed metric on the round's one
      checkpoint job (same fusion as the propagation loop), and the
      initial edge count on canon's — no standalone count jobs;
    - ``nodes`` checkpoints lazily: nothing reads it until the final
      label join, so its materialization job is deferred into that join.
    """
    obs0 = Observation(f"cc_star_n0_{uuid.uuid4().hex}")
    canon = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_edges = obs0.get["n"]
    # nodes captured up front: star rounds rewrite edges, and a component
    # min drops out of the 'b' side entirely at the fixpoint
    nodes = (
        pairs.select(F.col(src).alias("node"))
        .unionByName(pairs.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = canon
    for _ in range(max_iter):
        # -- large-star over the symmetric neighborhood view
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        lg = sym.withColumn("mn", F.min("v").over(Window.partitionBy("u")))
        large = (
            lg.filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("u"), F.col("mn")).alias("a"),
                F.col("v").alias("b"),
            )
            .distinct()
        )
        # -- small-star over the canonical (smaller-neighbor) orientation:
        # center b, neighbors a < b, m = min(a). The union's second branch
        # feeds (mn, b) per large ROW rather than per center; the existing
        # distinct collapses them to the identical edge set.
        sm = large.withColumn("mn", F.min("a").over(Window.partitionBy("b")))
        obs = Observation(f"cc_star_n_{uuid.uuid4().hex}")
        small = (
            sm.filter(F.col("a") != F.col("mn"))
            .select(F.col("mn").alias("a"), F.col("a").alias("b"))
            .unionByName(
                sm.select(F.col("mn").alias("a"), F.col("b").alias("b"))
            )
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        # fixpoint test: the rewritten set equals the round's input
        # (cheap count gate first — the input's count is carried over
        # from last round — exceptAll only when counts agree)
        n_new = obs.get["n"]
        if n_new == n_edges:
            if small.exceptAll(edges).limit(1).count() == 0:
                edges = small
                break
        edges = small
        n_edges = n_new
    else:
        raise RuntimeError(
            f"connected_components[star]: no fixpoint in {max_iter} rounds"
        )
    # at the fixpoint every edge is (root, member); roots label themselves
    labels = edges.select(F.col("b").alias("node"), F.col("a").alias("comp"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp"))
    )


def dedup_canonical(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "propagation",
) -> DataFrame:
    """(doc_id, canonical_id, is_kept): every doc mapped to its component
    minimum (docs without any near-dup edge are their own canonical).
    The downstream dedup filter is just ``is_kept``."""
    comp = connected_components(pairs, src, dst, algorithm=algorithm)
    return (
        all_ids.select(F.col(id_col))
        .join(comp, all_ids[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("canonical_id"))
    )


__all__ = ["connected_components", "dedup_canonical"]
