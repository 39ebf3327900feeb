"""Graph operators for dedup clustering.

Near-dup detection (dedup.py / similarity.py) emits PAIRS; turning pairs
into duplicate CLUSTERS — so one keeper survives per cluster — is a
connected-components problem. Spark has no native CC (GraphFrames is an
external package), so this is the classic iterative min-label propagation
expressed as DataFrame ops:

    label(v) ← min(label(v), min over neighbors' labels)   until fixpoint

Each iteration is ONE shuffle (join + groupBy-min); near-dup graphs are
shallow (clusters are cliques or near-cliques from banding), so 2-4
iterations typically suffice; deep graphs add a hook and a pointer jump
to every round past the eighth. Lineage is cut with localCheckpoint
every round so plans don't grow unboundedly — the standard Spark
iterative-algorithm shape.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# propagation-only rounds; every later round also hooks and jumps labels
_JUMP_AFTER = 8


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every vertex in ``edges``; component = the
    minimum vertex id reachable through undirected edges.

    Each round is one join + groupBy: every vertex takes the min label
    over itself and its neighbors, and the same aggregate carries its
    label from before the round (off its self-loop row). One full
    aggregate, ``max(comp <> prev)``, is the convergence probe for every
    id type: a driver action per round, no vertex data on the driver.
    Propagation alone needs O(diameter) rounds, so rounds after
    ``_JUMP_AFTER`` also hook (the vertex whose id is a label takes the
    min that label's carriers saw) and jump (``comp ← comp(comp)``), the
    Shiloach-Vishkin hooking + shortcutting: deep components converge in
    O(log D) more rounds (200,000-node paths: 21 rounds with shuffled
    ids, 24 with ids in path order). ``max_iterations`` bounds every
    round; when it runs out first a ``RuntimeWarning`` is raised
    (round-9 audit: a 40-node path graph under a 25-iteration cap
    previously returned wrong labels silently).
    Edges with a NULL endpoint are dropped entirely up front — the
    non-NULL endpoint does not surface as an isolated vertex unless
    another edge mentions it, and NULL itself is never a vertex.
    Without the explicit filter a NULL endpoint half-participated (it
    absorbed a neighbor's label through the NULL groupBy key but never
    propagated back, and distinct() merged every NULL into one
    pseudo-vertex; round-9 audit). Pair operators upstream cannot emit
    NULL ids, so real dedup graphs are unaffected — and
    :func:`dedup_clusters` coalesces ids absent from the components to
    themselves, so downstream keeper assignment stays total either way.

    Shape notes (sf0.1 minhash graph, ~2s → ~0.35s per iteration):

    - the undirected edge relation is ``localCheckpoint``-ed — it is
      referenced through multiple lineage paths (vertices, self-loops,
      every iteration's join), and an un-truncated plan would both
      re-execute the upstream pair-generation pipeline per reference AND
      make Catalyst re-analyze the full upstream lineage on every
      iteration, which dominates wall time for shallow graphs;
    - self-loops fold the "own label vs neighbor min" LEAST into the one
      groupBy-min, so each iteration is a SINGLE join + aggregate;
    - every iteration's labels are lazily ``localCheckpoint``-ed, keeping
      the per-iteration plan O(1)-sized instead of one join deeper each
      round; the probe is the action that materializes every partition
      of that checkpoint, so a round costs one driver action.
    """
    # filter on the INPUT frame, before the a/b aliasing select — after
    # the rename, F.col(src) on a caller whose src column is itself
    # named "b" resolves to the aliased output and would check the same
    # column twice, letting NULL endpoints through
    und = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        und.union(und.selectExpr("b AS a", "a AS b"))
        .distinct()
        # lazy: iteration 1's convergence probe is the materializing
        # action; every later reference (verts, self-loops) shares the
        # one checkpointed RDD exactly as with eager=True
        .localCheckpoint(eager=False)
    )
    verts = und.selectExpr("a AS id").distinct()
    e = und.union(verts.selectExpr("id AS a", "id AS b"))

    # labels start as the identity (comp = id), fused into iteration 1:
    # min over Γ(a)∪{a} of b IS groupBy(a).min(b) on the self-looped edges
    labels = None
    for it in range(max_iterations):
        if labels is None:
            joined = e.selectExpr("a", "b", "b AS comp")
        else:
            joined = e.join(labels.selectExpr("id AS b", "comp"), "b")
        nl = joined.groupBy(F.expr("a AS id")).agg(
            F.expr("min(comp) AS comp"),
            F.expr("max(CASE WHEN a = b THEN comp END) AS prev"),
        )
        if it >= _JUMP_AFTER:
            # hook: a label's owner (the vertex whose id it is) also takes
            # the min any vertex carrying that label saw, then jump:
            # comp ← comp(comp). Jumping alone only shortens chains that
            # already lead to the minimum — on a path with shuffled ids
            # the minimum still crept one hop per round (a 1000-node
            # path: 253 rounds; with the hook, 16)
            nl = nl.union(
                nl.selectExpr("prev AS id", "comp", "NULL AS prev")
            ).groupBy("id").agg(
                F.expr("min(comp) AS comp"), F.expr("max(prev) AS prev")
            )
            nl = nl.join(
                nl.selectExpr("id AS comp", "comp AS root"), "comp"
            ).selectExpr("id", "root AS comp", "prev")
        # LAZY checkpoint: the probe below materializes it, so each
        # iteration costs ONE driver round trip
        labels = nl.localCheckpoint(eager=False)
        probe = labels.selectExpr("max(CAST(comp <> prev AS INT))")
        moved = probe.collect()[0][0]
        if not moved:  # 0, or NULL on an empty graph
            break
    else:
        warnings.warn(
            f"connected_components did not converge within "
            f"{max_iterations} iterations; labels may not be the "
            f"component minimum — raise max_iterations (graph diameter "
            f"exceeds the cap)",
            RuntimeWarning,
            stacklevel=2,
        )
    if labels is None:  # max_iterations == 0: identity labels, warned above
        return verts.selectExpr("id", "id AS comp")
    return labels.select("id", "comp")


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    quality_col: str | None = None,
) -> DataFrame:
    """The dedup *apply* step over near-dup pairs: every document mapped to
    its duplicate-cluster keeper. Output: (id, keeper_id, is_keeper).

    Keeper policy: by default the min id in the component (cheap — it IS
    the component label, no extra shuffle). With ``quality_col`` the
    keeper is the cluster member with the highest quality (ties → min
    id) — the production policy: when a crawl yields five near-dup
    copies, keep the longest/cleanest one, not the one crawled first.
    Costs one window over comp + one join back; both shuffles are on the
    component key, whose cardinality is the number of clusters.
    """
    comps = connected_components(pairs, src=src, dst=dst)
    all_ids = docs.select(F.col(id_col).alias("id"))
    labeled = all_ids.join(comps, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )
    if quality_col is None:
        out = labeled.select("id", F.col("comp").alias("keeper_id"))
    else:
        from pyspark.sql import Window

        # dual-consumer relation (keepers derivation + final join): cut
        # lineage once so the all_ids⋈comps join doesn't execute per
        # reference — measured at sf0.01: 6 documents scans → 2 in the
        # executed plan, and ~20% off the sf1 wall (8.8 → 7.1s)
        labeled = labeled.localCheckpoint()

        q = docs.select(
            F.col(id_col).alias("id"), F.col(quality_col).alias("_q")
        )
        w = Window.partitionBy("comp").orderBy(F.col("_q").desc(), F.col("id"))
        keepers = (
            labeled.join(q, "id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("comp", F.col("id").alias("keeper_id"))
        )
        out = labeled.join(keepers, "comp").select("id", "keeper_id")
    return out.withColumn("is_keeper", F.col("id") == F.col("keeper_id"))


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    round_digits: int = 12,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over a directed edge list —
    crawl-graph authority scoring, the signal web-corpus curation uses to
    prioritize which domains/pages enter a training set (CCNet-style
    pipelines rank crawl hosts exactly this way).

    Deterministic by construction: a FIXED iteration count (no float
    convergence test), ranks rounded to ``round_digits`` after every
    update so engines agree bit-for-bit, dangling-node mass redistributed
    uniformly. Per iteration: contributions flow src→dst through one join
    + one groupBy-sum (both shuffles on node id), the dangling-mass scalar
    rides as a broadcast 1-row cross join — no driver-side state. Lineage
    is cut with localCheckpoint every round (same discipline as
    :func:`connected_components`). Output: (node, rank) summing to ~1.
    """
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    # the static frames are materialized ONCE (localCheckpoint): every
    # iteration references them 2-3×, and without the lineage cut each
    # round would re-derive the upstream edge computation — plan size and
    # recompute both explode combinatorially by ~3^iterations otherwise
    e = (
        edges.select(
            F.col(src).alias("_s"), F.col(dst).alias("_d"), w_col.alias("_w")
        )
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select("_d"))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # scalar cardinality, once, metadata-scale
    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_outw")).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    base = (1.0 - damping) / n_nodes
    for i in range(iterations):
        contrib = (
            e.join(out_w, "_s")
            .join(ranks, F.col("_s") == F.col("node"))
            .select(
                F.col("_d").alias("node"),
                (F.col("rank") * F.col("_w") / F.col("_outw")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        dangling = (
            ranks.join(out_w, ranks.node == out_w._s, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_in"), F.lit(0.0))
                        + F.col("_dm") / n_nodes
                    ),
                    round_digits,
                ).alias("rank"),
            )
        )
        # ranks are node-cardinality (tiny next to the edge set):
        # checkpoint EVERY round so each iteration's plan is constant-size
        ranks = ranks.localCheckpoint()
    return ranks


def triangle_audit(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node structure audit of a similarity graph (e.g. LSH candidate
    pairs): degree, wedge count (2-paths centered here), triangle count,
    and local clustering coefficient. Dedup pipelines read this as
    cluster-quality telemetry — triangles are corroborated near-dup
    groups, high-degree low-clustering nodes are suspect hub artifacts
    (boilerplate shingles, hot buckets).

    Edges must be canonical (src < dst, deduped) — true of every pair
    operator in operators/dedup.py. Triangles close the classic two-join:
    (a,b)+(b,c) wedges against the (a,c) edge list, each triangle found
    exactly once since a<b<c. At scale, orient edges low-degree →
    high-degree first (the standard compact-forward trick) so wedge
    volume is Σ d(v)·d̂ rather than Σ d(v)²; candidate pair graphs are
    id-canonical and sparse, so the plain form suffices here. The
    clustering coefficient 2·tri/(deg·(deg−1)) is one double division of
    exact integers — cross-engine stable.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.b") == F.col("bc.a"))
        .join(
            ac,
            (F.col("ac.a") == F.col("ab.a"))
            & (F.col("ac.b") == F.col("bc.b")),
        )
        .select(
            F.col("ab.a").alias("ta"),
            F.col("ab.b").alias("tb"),
            F.col("bc.b").alias("tc"),
        )
    )
    tri_nodes = (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(tri_nodes, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .withColumn(
            "n_wedges",
            (F.col("degree") * (F.col("degree") - 1) / 2).cast("bigint"),
        )
        .withColumn(
            "clustering",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("n_triangles") / (d * (d - 1.0)),
            ).otherwise(F.lit(0.0)),
        )
        .select("node", "degree", "n_wedges", "n_triangles", "clustering")
    )
