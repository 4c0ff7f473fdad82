"""Graph operators for dedup-group resolution (EXT, SURVEY §2.11).

Near-dup detection (MinHash-LSH / SimHash / embedding blocking) emits
PAIRS; turning pairs into deduplication DECISIONS needs the connected
components of the pair graph — every document in a component keeps or
drops together, with the minimum id as the canonical representative.

Scale design: iterative min-label propagation over DataFrame joins.
Each round is one shuffle join (labels |x| edges) + one groupBy-min —
all distributed, no driver-side graph. Convergence takes O(diameter)
rounds; near-dup components are short chains/cliques (diameter a
handful), so 3-5 rounds close real corpora. For adversarial
long-chain graphs the published alternative is the large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) with O(log n) rounds — same
join-agg primitive, different edge rewriting; this module keeps the
simple variant and caps rounds explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "connected_components",
    "component_sizes",
    "pagerank",
    "triangle_counts",
    "bfs_levels",
]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair graph. Returns one
    row per node: (node, component) where component = min node id
    reachable from it.

    Min-label propagation to fixpoint: the seed IS the first
    propagation round, fused into one aggregation over the
    symmetrized edge list (label(u) = min(u, min over neighbors v) —
    no join needed); each later round unions the neighbor-propagated
    labels with the current table and takes one groupBy-min, yielding
    label(u) = min(label(u), min over neighbors label(v)) plus the
    previous label for the convergence probe in a single aggregation.
    The convergence probe per round is an aggregate (a count of the
    changed-set), never a collect of data rows. Each round's labels
    are localCheckpoint'ed — iterative joins DOUBLE the logical plan
    every round, and without lineage truncation Catalyst analysis
    cost grows exponentially with the iteration count (the classic
    iterative-Spark trap; persist alone does not cut the plan). On a
    cluster, swap localCheckpoint for reliable ``checkpoint`` so a
    lost executor cannot drop a round's state.

    Raises after ``max_iters`` rounds without convergence — at that
    point the graph has a longer diameter than near-dup components
    ever produce, and the large-star/small-star variant (see module
    docstring) is the right tool.
    """
    # Symmetrize in ONE pass over the input — explode each pair into
    # both directions instead of a self-union, so the upstream plan
    # (often an expensive LSH self-join) executes exactly once and a
    # single checkpoint materializes the undirected edge list.
    # (The previous two-step — checkpoint the pairs, then union with
    # the reversed read — spent an extra materialization job for the
    # same result.)
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    )
    und = (
        edges.select(both.alias("e"))
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Seed = the FIRST propagation round, fused into one aggregation:
    # label(u) = min(u, min over neighbors v) needs no join — the
    # undirected edge list already pairs every node with each
    # neighbor. (Seeding with label(u) = u and joining would spend a
    # whole join round discovering the same values; for the
    # clique-shaped components near-dup graphs produce, this seed is
    # already the fixpoint and the loop only runs its confirmation
    # round.) Lazy checkpoint: round 1's convergence count
    # materializes it.
    labels = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.col("u"), F.min("v")).alias("component"))
        .localCheckpoint(eager=False)
    )

    id_type = dict(und.dtypes)["u"]
    for _ in range(max_iters):
        # One round = propagate + merge in a SINGLE aggregation: the
        # neighbor-propagated labels union the current table (which
        # carries each node's own label tagged as __prev), and one
        # groupBy-min yields the new label AND the old one for the
        # convergence probe — no per-round left join stitching a
        # separate nbr_min table back (measured: same results, one
        # fewer join per round). Every node appears as `u` in the
        # symmetrized edge list, so the union side only supplies the
        # self-label floor.
        prop = und.join(labels, und.v == labels.node).select(
            F.col("u").alias("node"),
            "component",
            F.lit(None).cast(id_type).alias("__old"),
        )
        # Lazy checkpoint + full-count probe = ONE job per round: the
        # count computes every partition, which materializes the
        # checkpoint as a side effect (eager=True plus a separate
        # isEmpty probe would schedule two jobs per round — pure
        # overhead in the many-rounds regime).
        new_labels = (
            labels.select("node", "component", F.col("component").alias("__old"))
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__prev"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("component") != F.col("__prev")).count()
        labels = new_labels.drop("__prev")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "graph diameter exceeds the near-dup regime; long chains need the "
        "O(log n)-round large-star/small-star algorithm (Kiveris et al., SoCC'14)"
    )


def kcore_prune(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """k-core of an undirected pair graph by iterative peeling
    (Matula & Beck's algorithm, distributed): each round drops every
    node with fewer than k surviving neighbors, cascading until the
    dense nucleus remains. Returns (node, core_deg) for the nodes
    still standing after ``rounds`` peels, with their degree among
    survivors (>= k once the fixpoint is reached).

    Runs EXACTLY ``rounds`` rounds — no early exit — so the result is
    deterministic under any parallelism and a SQL oracle can replay
    the identical chain; callers pin convergence (rounds vs rounds+1
    equal) in tests. The iterative-deletion fixpoint complements the
    propagation (connected_components) and power-iteration (pagerank)
    fixpoints: where component labels tell you WHAT is connected and
    density/triangles tell you HOW tight a component's edges are,
    the core number separates the load-bearing nucleus from chain
    overreach hanging off it.

    Scale shape per round: ONE degree aggregation (map-side
    combinable, uniform node keys) + two equi joins of the edge list
    against the survivor set — the edge list only ever SHRINKS, and
    every round's result is lineage-truncated (localCheckpoint; on a
    cluster use reliable checkpoint) so plan analysis stays O(1) per
    round instead of doubling."""
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    )
    cur = (
        edges.select(both.alias("e"))
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        surv = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.join(surv, "u")
            .join(surv.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 5,
    d_num: int = 85,
    d_den: int = 100,
    total_units: int = 10**12,
) -> DataFrame:
    """Integer-exact PageRank over a (near-dup / citation / domain)
    graph — the corpus-authority signal a pretraining pipeline uses to
    weight sources (the CommonCrawl "harmonic centrality / PageRank
    domain ranking" stage). ``iters`` fixed power iterations with
    damping ``d = d_num/d_den``, full dangling-mass redistribution.

    Determinism contract: all mass lives in BIGINT ``rank_units``
    (``total_units`` = one unit of probability mass) and every update
    uses integer floor-division (`div`) — so the result is
    bit-identical at ANY parallelism and cross-engine (a DuckDB
    oracle replays the same iterations with ``//``). Floating-point
    PageRank can differ in the last ulp under different partial-sum
    orders; integer mass cannot.

    Scale shape: per iteration, one shuffle join (ranks |x| edges on
    the src key) + one groupBy-sum on the dst key + one single-row
    dangling aggregate that rides a broadcast — the canonical
    data-parallel PageRank layout (Pregel/GraphX semantics, plain
    DataFrame ops). Ranks are localCheckpoint'ed per round to cut
    lineage growth (same iterative-plan trap as connected_components;
    use reliable checkpoint on a cluster).

    Returns one row per node: (node, degree, rank_units).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Symmetrize: near-dup pair graphs are undirected; every endpoint
    # both emits and receives mass.
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    base = (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(deg.withColumnRenamed("u", "node"), "node", "left")
        .withColumn("degree", F.coalesce("degree", F.lit(0)))
        .localCheckpoint(eager=True)
    )
    n_nodes = base.count()
    if n_nodes == 0:
        return base.withColumn("rank_units", F.lit(0).cast("long"))
    r0 = total_units // n_nodes
    teleport = ((d_den - d_num) * total_units) // (d_den * n_nodes)
    ranks = base.withColumn("rank_units", F.lit(r0).cast("long"))
    for _ in range(iters):
        # Mass each node sends along EACH of its edges this round.
        send = ranks.filter(F.col("degree") > 0).select(
            F.col("node").alias("u"),
            F.expr(f"({d_num} * rank_units) div ({d_den} * degree)").alias("share"),
        )
        contrib = (
            und.join(send, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("contrib"))
        )
        # Dangling nodes spread their damped mass uniformly. One-row
        # aggregate — rides a broadcast into the per-node update.
        dang = ranks.filter(F.col("degree") == 0).agg(
            F.expr(
                f"({d_num} * coalesce(sum(rank_units), 0)) div ({d_den} * {n_nodes})"
            ).alias("dang_share")
        )
        ranks = (
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "degree",
                (
                    F.lit(teleport).cast("long")
                    + F.coalesce("contrib", F.lit(0)).cast("long")
                    + F.col("dang_share")
                ).alias("rank_units"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def component_sizes(labels: DataFrame) -> DataFrame:
    """Attach the component size to each (node, component) row — the
    'how many copies of this document exist' count a dedup keep/drop
    policy consumes. One window count over the component key."""
    w = Window.partitionBy("component")
    return labels.withColumn("group_size", F.count(F.lit(1)).over(w))


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over an
    undirected graph — the cohesion signal that separates tight
    duplicate CLIQUES (every pair similar: one canonical survivor)
    from loose similarity CHAINS (A~B~C but A!~C: review, don't
    drop). Returns (node, degree, n_triangles, clustering_ppm) for
    every node with degree >= 1, where clustering_ppm =
    (2 * triangles * 1e6) div (degree * (degree - 1)) — integer
    floor-division, so exact cross-engine.

    Execution: the standard edge-iterator algorithm on canonically
    oriented edges (u < v): wedge join (a,b)x(b,c) then a semi join
    against the edge list to close (a,c) — two shuffle joins total,
    never an all-pairs product. At 100 TB scale the classic
    refinement is degree-ordering (orient edges toward the
    higher-degree endpoint) to bound wedge fan-out on hubs; near-dup
    graphs are clique-ish and small-degree, so the canonical
    orientation suffices here.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    tri = wedges.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")), ["a", "c"], "left_semi"
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )
    cc = F.when(
        F.col("degree") >= 2,
        F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"),
    ).otherwise(F.lit(0).cast("long"))
    return out.withColumn("clustering_ppm", cc)


def bfs_levels(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "node",
    src: str = "id_a",
    dst: str = "id_b",
    max_hops: int = 4,
    unreached: int = -1,
) -> DataFrame:
    """Multi-source BFS hop levels over an undirected graph — the
    'distance to the nearest trusted source' signal (hop distance from
    seed documents through near-dup edges, degrees-of-separation
    audits, blast-radius analysis). ``seeds`` rows get level 0; each
    of ``max_hops`` rounds relaxes one hop:
    level[v] = min(level[v], min over neighbors u of level[u] + 1).

    Determinism contract: levels are small exact integers updated by
    MIN — order-free at any parallelism; a DuckDB oracle replays the
    identical unrolled rounds. Nodes still unreached after
    ``max_hops`` report ``unreached``.

    Seeds outside ``nodes`` are unioned INTO the node universe (they
    seed propagation and appear in the output at level 0) — a seed
    can never be silently dropped (round-4 advice).

    Scale shape: per round, one shuffle join (frontier levels x edges
    on the src key) + one min-groupBy on the dst key — the Pregel BFS
    layout in plain DataFrame ops; levels are localCheckpoint'ed per
    round to truncate the iterative-plan lineage.

    Returns one row per node: (node, level).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    # Symmetrize in ONE pass (the connected_components recipe): the
    # union-of-reversed form ran the upstream pair pipeline into two
    # distinct shuffles; the explode pays one scan and one distinct.
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    )
    und = (
        edges.select(both.alias("e"))
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s = seeds.select(F.col(node_col).alias("node")).distinct()
    n = nodes.select(F.col(node_col).alias("node")).unionByName(s).distinct()
    lvl = n.join(s.withColumn("__seed", F.lit(1)), "node", "left").select(
        "node",
        F.when(F.col("__seed").isNotNull(), F.lit(0).cast("long")).alias("level"),
    )
    for _ in range(max_hops):
        relaxed = (
            lvl.filter(F.col("level").isNotNull())
            .join(und, lvl["node"] == und["u"])
            .groupBy(F.col("v").alias("node"))
            .agg((F.min("level") + 1).alias("cand"))
        )
        # explicit CASE, not least(): least() skips NULLs in Spark but
        # not in every engine an oracle might replay this in
        lvl = (
            lvl.join(relaxed, "node", "left")
            .select(
                "node",
                F.expr(
                    "CASE WHEN level IS NULL THEN cand "
                    "WHEN cand IS NULL THEN level "
                    "WHEN cand < level THEN cand ELSE level END"
                ).alias("level"),
            )
            # LAZY checkpoint (round 10): the plan is truncated at
            # declaration either way, but eager=True scheduled one
            # materialization JOB per round — with a fixed round count
            # and no convergence probe, nothing needs the intermediate
            # levels, so the caller's single action runs the whole
            # relax chain (4 driver jobs removed; same results).
            .localCheckpoint(eager=False)
        )
    return lvl.select(
        "node", F.coalesce(F.col("level"), F.lit(unreached).cast("long")).alias("level")
    )
