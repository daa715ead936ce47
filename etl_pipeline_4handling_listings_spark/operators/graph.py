"""Graph kernels over edge DataFrames: triangle counting.

Beyond-reference analytics: the reference ETL has no graph engine,
but a corpus/behavior pipeline at scale needs community structure
signals (co-occurrence cliques, spam rings, near-dup neighborhoods).
The related component op lives in ``operators/clustering.py``
(min-label propagation); this module covers the counting side.

Design for 100 TB
-----------------
Naive triangle enumeration (``edges x edges x edges`` on matching
endpoints) explodes on high-degree hubs: one celebrity node of
degree d contributes d^2 wedge rows. The classic fix is **degree
orientation** (Ortmann/Brandes, Schank/Wagner): direct every
undirected edge from its lower-(degree, id) endpoint to the higher
one. The resulting DAG has out-degree O(sqrt(m)) for ANY input
graph, so the wedge join produces at most m^1.5 rows total instead
of sum(d^2) — the hub's wedges are re-rooted at its low-degree
neighbors. Both joins shuffle on plain long keys; the degree frame
is node-sized and broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from etl_pipeline_4handling_listings_spark.arrowframe import arrow_frame


def _degrees(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(node, deg) from an undirected edge list — one union + agg."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def orient_edges(
    edges: DataFrame, src: str = "u", dst: str = "v", deg: DataFrame | None = None
) -> DataFrame:
    """Degree-orient an undirected edge list.

    ``edges`` must hold each undirected edge exactly once (any
    endpoint order, no self-loops). Returns columns ``a``, ``b``
    plus rank structs ``ra``, ``rb`` where every edge points from
    the endpoint with the smaller ``(degree, node)`` pair to the
    larger — a total order, so the output is a DAG with out-degree
    bounded by ~sqrt(2m).

    ``deg``: optional precomputed (node, deg) frame. The u-side and
    v-side joins below canonicalize differently (the alias renames
    defeat ReuseExchange), so an unmaterialized degree frame gets its
    union+aggregate subtree planned — and executed — TWICE per
    orientation; callers that already hold a materialized degree
    frame should pass it in.
    """
    if deg is None:
        deg = _degrees(edges, src, dst)
    e = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .join(deg.select(F.col("node").alias("_u"), F.col("deg").alias("du")), "_u")
        .join(deg.select(F.col("node").alias("_v"), F.col("deg").alias("dv")), "_v")
    )
    ru = F.struct(F.col("du").alias("d"), F.col("_u").alias("n"))
    rv = F.struct(F.col("dv").alias("d"), F.col("_v").alias("n"))
    return e.select(
        F.when(ru < rv, F.col("_u")).otherwise(F.col("_v")).alias("a"),
        F.when(ru < rv, F.col("_v")).otherwise(F.col("_u")).alias("b"),
        F.when(ru < rv, ru).otherwise(rv).alias("ra"),
        F.when(ru < rv, rv).otherwise(ru).alias("rb"),
    )


def node_triangles(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    deg: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts of an undirected graph — the same
    compact-forward (degree-oriented, map-side intersection) plan
    as :func:`triangle_stats`, with each closed triangle EXPLODED
    to its three member vertices before one count agg. Nodes in no
    triangle are absent (join + coalesce at the caller). The
    orientation keeps out-adjacency arrays O(sqrt(2m)) so the
    explode fan-out is exactly 3x the triangle count, never a
    wedge enumeration.

    ``deg``: optional precomputed (node, deg) frame (see
    :func:`orient_edges`); callers holding one avoid recomputing the
    degree aggregate inside the orientation."""
    if deg is None:
        deg = _degrees(edges, src, dst).localCheckpoint(eager=True)
    # materialize the oriented DAG and adjacency ONCE: each feeds two
    # join consumers whose alias divergence defeats ReuseExchange, so
    # the lazy plan executed the orientation joins and the
    # collect_list aggregate twice each (executed-plan evidence at
    # sf0.1: repeated Union+HashAggregate+Exchange groups). Both
    # frames are |E|-bounded — the same storage class as the edge
    # frame itself.
    oriented = orient_edges(edges, src, dst, deg=deg).select(
        "a", "b"
    ).localCheckpoint(eager=True)
    # adj is NOT checkpointed: its two consumers re-run only the
    # collect_list aggregate over the materialized oriented frame
    # (one cheap pass each), while a checkpoint here would hide the
    # aggregate's runtime size from AQE and demote the two
    # adjacency joins from broadcast to sort-merge (observed in the
    # plan audit when tried)
    adj = oriented.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    closed = (
        oriented.select("a", "b")
        .join(
            adj.select(F.col("a").alias("_ja"), F.col("nbrs").alias("na")),
            F.col("a") == F.col("_ja"),
        )
        .join(
            adj.select(F.col("a").alias("_jb"), F.col("nbrs").alias("nb")),
            F.col("b") == F.col("_jb"),
        )
        .select(
            "a",
            "b",
            F.explode(F.array_intersect("na", "nb")).alias("c"),
        )
    )
    return (
        closed.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def triangle_stats(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Global triangle census of an undirected graph.

    Returns one row: ``n_nodes``, ``n_edges``, ``n_wedges`` (open
    two-paths, sum over nodes of C(deg, 2)), ``n_triangles``.

    Each triangle is counted exactly once, at its "base" oriented
    edge: for a triangle with rank order x < y < z, orientation
    yields x->y, x->z, y->z, and z appears in N+(x) ∩ N+(y) for the
    edge (x, y) only (the other two edges' out-neighborhood
    intersections cannot contain the third vertex — out-edges only
    point up-rank). So ``sum over oriented edges (a, b) of
    |N+(a) ∩ N+(b)|`` is the exact census.

    Physical plan (compact-forward, Latapy 2008): out-adjacency
    arrays are bounded at O(sqrt(2m)) elements by the orientation,
    so the two joins ship each edge row with two bounded arrays and
    the intersection runs MAP-side — unlike the naive wedge
    enumeration there is no shuffle of the O(m^1.5) wedge rows
    (27M rows on the dense sf0.1 co-occurrence graph vs the m=138k
    rows actually joined here; measured 7.9 s -> ~1 s).
    """
    # materialize the degree frame, the oriented DAG and the adjacency
    # ONCE each: deg feeds the two orientation joins AND node_stats,
    # oriented feeds the adjacency aggregate AND the probe side, adj
    # feeds two join builds — and every one of those consumer pairs
    # canonicalizes differently (alias renames), so ReuseExchange
    # never fired and the executed plan ran the union+degree aggregate
    # ~5x and the orientation/adjacency twice each (sf0.1 plan: six
    # Union+HashAggregate+Exchange groups). All three frames are
    # |V|/|E|-bounded — the storage class of the edge frame itself.
    deg = _degrees(edges, src, dst).localCheckpoint(eager=True)
    oriented = orient_edges(edges, src, dst, deg=deg).select(
        "a", "b"
    ).localCheckpoint(eager=True)
    # adj is NOT checkpointed: its two consumers re-run only the
    # collect_list aggregate over the materialized oriented frame
    # (one cheap pass each), while a checkpoint here would hide the
    # aggregate's runtime size from AQE and demote the two
    # adjacency joins from broadcast to sort-merge (observed in the
    # plan audit when tried)
    adj = oriented.groupBy("a").agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    tri = (
        oriented.select("a", "b")
        .join(adj.select(F.col("a").alias("_ja"), F.col("nbrs").alias("na")),
              F.col("a") == F.col("_ja"))
        # inner join: edges whose head has no out-edges close nothing
        .join(adj.select(F.col("a").alias("_jb"), F.col("nbrs").alias("nb")),
              F.col("b") == F.col("_jb"))
        .select(F.size(F.array_intersect("na", "nb")).alias("t"))
        .agg(F.sum("t").cast("long").alias("n_triangles"))
        .select(F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


def member_pairs(
    groups: DataFrame,
    members_col: str = "us",
    max_cell: int = 1000,
    observation=None,
) -> DataFrame:
    """Ordered co-membership pairs from a grouped member-array frame.

    ``groups`` holds one row per group with a SORTED member array in
    ``members_col``; returns one row per unordered pair ``(u, v)``,
    ``u < v``, per group — the map-side C(n,2) expansion behind
    co-presence / co-purchase graphs (one shuffle to build the
    groups, zero joins for the pairs).

    The ``max_cell`` guard is the celebrity-cell protection (same
    role as ``association_rules``'s ``max_basket``): a single hot
    group of n members mints n*(n-1)/2 pair rows INSIDE ONE TASK,
    so an unguarded million-member cell is a ~5e11-row array
    materialization that no executor survives. Groups above the cap
    are dropped — their pairwise signal is saturated noise at that
    size — bounding per-task fan-out at ~max_cell^2/2. Pass a
    ``pyspark.sql.Observation`` for drop accounting: metrics
    ``cells_total`` / ``cells_dropped`` become available after the
    consuming action completes (lazy — no extra job, unlike an
    eager count()).
    """
    if observation is not None:
        groups = groups.observe(
            observation,
            F.count(F.lit(1)).alias("cells_total"),
            F.sum(
                (F.size(members_col) > max_cell).cast("long")
            ).alias("cells_dropped"),
        )
    groups = groups.filter(F.size(members_col) <= max_cell)
    # spread BEFORE the explode: the grouped frame is tiny (one row
    # per group) so AQE coalesces it to ~1 partition, but each row
    # fans out to C(n,2) pairs — without this keyless repartition
    # the whole expansion lands in ONE task (measured 27 s vs ~2 s
    # on the sf0.1 link-prediction wedge). The shuffle it adds is
    # group-count-sized — noise next to the fan-out it parallelizes.
    groups = groups.repartition(
        groups.sparkSession.sparkContext.defaultParallelism
    )
    # two-level explode, NOT flatten(transform(...)): the flattened
    # pair array is one C(n,2)-element allocation per group row (at
    # the 1000 cap that is a ~16 MB humongous object — G1 old-gen
    # pressure that showed up as multi-x wall-time swings late in
    # long sessions). Chaining posexplode -> explode(slice) streams
    # the same pairs through two pipelined Generate nodes with
    # per-row allocations bounded by n elements, never n^2/2.
    lvl1 = groups.select(
        F.col(members_col).alias("_us"),
        F.posexplode(members_col).alias("_i", "u"),
    )
    return lvl1.select(
        "u",
        F.explode(
            F.slice(F.col("_us"), F.col("_i") + 2, F.size("_us"))
        ).alias("v"),
    )


# -- PageRank on the 1e-12 integer grid: the kernel behind both the
#    fixed-round registry query (queries.graph_pagerank) and the
#    convergence probe below. Rank mass is a BIGINT; per-neighbor
#    shares use integer division (pr div d) and damping is exactly
#    17/20, so every engine computes the identical integer no matter
#    the aggregation order.


def _pagerank_setup(edges: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """``(deg(node, d), dirs_d(src, dst, d), n)`` for an undirected
    ``(u, v)`` edge list.

    The degree frame DOUBLES as the distinct-node set (the directed
    frame is symmetric, so every node appears as a source): it is
    frozen once and feeds the invariant build, the n count, the rank
    init and any final join; unfrozen, the 2|E| aggregate executed
    once per alias-divergent consumer and the rank init paid a
    separate full distinct over the invariant. The source degree is
    attached to the edge frame ONCE, so each power step is exactly
    one join (edges x rank on src) + one partial agg on dst. The
    invariant is hash-partitioned AND sorted on src before its
    checkpoint (LogicalRDD preserves both), so every round's join
    exchanges and sorts ONLY the rank side — without the pin each
    round re-shuffled and re-sorted the 2|E| edge frame too."""
    dirs = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = (
        dirs.groupBy("src")
        .agg(F.count("*").cast("long").alias("d"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )
    dirs_d = (
        dirs.join(deg.withColumnRenamed("node", "src"), "src")
        .select("src", "dst", "d")
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    return deg, dirs_d, deg.count()


def _pagerank_init(deg: DataFrame, n: int) -> DataFrame:
    """Uniform initial rank read off the frozen node set (no
    distinct pass)."""
    return deg.select("node", F.lit(10**12 // n).cast("long").alias("pr"))


def _pagerank_step(dirs_d: DataFrame, pr: DataFrame, n: int) -> DataFrame:
    """One power-iteration round: ``(1-d)/N + d * sum(pr div deg)``
    with d = 17/20, all on the integer grid."""
    base = (3 * 10**12) // (20 * n)  # (1-d)/N on the integer grid
    return (
        dirs_d.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.expr("pr div d")).alias("s"))
        .select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.expr("(17 * s) div 20")).cast("long").alias("pr"),
        )
    )


def pagerank_converged(
    edges: DataFrame,
    eps_e12: int = 10**6,
    max_rounds: int = 40,
) -> tuple[DataFrame, int, bool]:
    """PageRank to CONVERGENCE on the 1e-12 integer grid — the
    production probe the fixed-round query (`queries.graph_pagerank`)
    documents: iterate the same bit-reproducible power step (integer
    per-neighbor shares ``pr div d``, damping exactly 17/20) until
    ``sum |Δpr| < eps_e12`` or ``max_rounds``.

    Returns ``(rank_frame(node, pr), rounds_run, converged)``; the
    rank frame's ``pr`` is the e12-scaled integer. Because every
    round is exact integer arithmetic, the delta probe is itself
    deterministic — no float tolerance games across partial-agg
    orders. Per round: one join keyed on src + one
    map-side-combinable shuffle on dst, materialized ONCE by an
    eager localCheckpoint that both the delta probe and the next
    round read (without it the probe's action and round r+1 would
    each re-execute round r's plan, doubling every round) — lineage
    therefore also stays flat. The probe's full-outer join also
    counts mass parked on rank-sink nodes (in-degree 0 after a
    round) as delta, so "converged" means the whole vector moved
    less than eps, not just the surviving keys.
    """
    deg, dirs_d, n = _pagerank_setup(edges)
    if n == 0:
        return (
            arrow_frame(edges.sparkSession, [], "node bigint, pr bigint"),
            0,
            True,
        )
    pr = _pagerank_init(deg, n)
    rounds = 0
    converged = False
    for _it in range(max_rounds):
        nxt = _pagerank_step(dirs_d, pr, n).localCheckpoint(eager=True)
        rounds += 1
        delta = (
            nxt.withColumnRenamed("pr", "pr_new")
            .join(
                pr.withColumnRenamed("pr", "pr_old"), "node", "full_outer"
            )
            .select(
                F.abs(
                    F.coalesce("pr_new", F.lit(0))
                    - F.coalesce("pr_old", F.lit(0))
                ).alias("dlt")
            )
            .agg(F.sum("dlt").alias("total"))
            .collect()[0]["total"]
        )
        pr = nxt
        if delta is not None and int(delta) < int(eps_e12):
            converged = True
            break
    return pr, rounds, converged
