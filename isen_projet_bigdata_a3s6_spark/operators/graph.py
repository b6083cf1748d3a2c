"""Distributed PageRank — the second iterative-graph operator next to
``functions.dedup.connected_components``, sharing its durability story
(``checkpointing.cut_lineage`` per round: reliable ``checkpoint()`` when a
checkpoint dir is configured, ``localCheckpoint`` otherwise).

Shape per iteration: one equi-join of ranks onto edges (shuffle on src) +
one groupBy dst (shuffle on dst) — the standard Pregel-as-joins layout.
Dangling nodes (no out-edges) redistribute their mass uniformly, so ranks
sum to 1 every iteration (the test asserts it).

At 100 TB: pre-partition ``edges`` by src and persist, so the per-round
join reuses the same partitioning; rank frames stay (node, double) narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Ranks after ``iterations`` rounds of the power method on the edge
    list (uniform out-edge weights). Returns ``(node, rank)``, ranks
    summing to 1. Deterministic: plain float aggregation order is fixed by
    round6 at the END only — intermediate sums stay unrounded."""
    if not 0 < damping < 1:
        raise ValueError("pagerank: damping must be in (0, 1)")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
    ).persist()
    n = nodes.count()
    if n == 0:
        # empty graph -> empty ranks (empty-in/empty-out keeps a scheduled
        # pipeline alive on a no-data day; downstream gates alarm on empty)
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # pre-join degree onto edges once; partition by src for round reuse
    contrib_edges = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )
    contrib_edges.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        msgs = (
            contrib_edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select("dst", (F.col("rank") / F.col("deg")).alias("m"))
            .groupBy("dst")
            .agg(F.sum("m").alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
        ).first()["d"]
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            nodes.join(msgs, nodes.node == msgs.dst, "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        ranks = cut_lineage(ranks)
    contrib_edges.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_convergence(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Convergence diagnostics for :func:`pagerank`: one row per iteration
    with the L1 delta ``Σ|rank_t − rank_{t−1}|``, the max per-node delta,
    and the rank-mass total (must stay 1.0). The per-round extra cost is a
    single narrow self-join of two (node, double) frames — the operator a
    production pipeline runs to pick the iteration budget instead of
    guessing. The power method contracts deltas by ~``damping`` per round
    (the test pins the observed ratio and the numpy twin)."""
    if not 0 < damping < 1:
        raise ValueError("pagerank_convergence: damping must be in (0, 1)")
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    ).persist()
    n = nodes.count()
    if n == 0:
        # empty graph -> empty diagnostics frame, same schema as below
        nodes.unpersist()
        return spark.createDataFrame(
            [], "iteration int, l1_delta double, linf_delta double, rank_mass double"
        )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = e.join(out_deg, "src").repartition("src").persist()
    contrib_edges.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    diag = []
    for it in range(1, iterations + 1):
        msgs = (
            contrib_edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("m"))
            .groupBy("dst")
            .agg(F.sum("m").alias("inflow"))
        )
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
        ).first()["d"]
        base = (1.0 - damping) / n + damping * dangling / n
        new_ranks = nodes.join(msgs, nodes.node == msgs.dst, "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
        new_ranks = cut_lineage(new_ranks)
        stats = (
            new_ranks.withColumnRenamed("rank", "new_rank")
            .join(ranks.withColumnRenamed("rank", "old_rank"), "node")
            .agg(
                F.sum(F.abs(F.col("new_rank") - F.col("old_rank"))).alias("l1"),
                F.max(F.abs(F.col("new_rank") - F.col("old_rank"))).alias("linf"),
                F.sum("new_rank").alias("mass"),
            )
        ).first()
        diag.append(
            (it, round(stats["l1"], 9), round(stats["linf"], 9), round(stats["mass"], 9))
        )
        ranks = new_ranks
    contrib_edges.unpersist()
    nodes.unpersist()
    return spark.createDataFrame(
        diag, "iteration int, l1_delta double, linf_delta double, rank_mass double"
    )


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count on an undirected simple graph, via the
    degree-ordered orientation (Suri & Vassilvitskii's MR-friendly scheme):
    orient every edge from its lower-(degree, id) endpoint to the higher
    one, so each node's out-degree is O(√m) on any graph — the wedge
    (2-path) blow-up that kills the naive 3-way self-join on skewed graphs
    cannot happen. Wedges are one self-join of the oriented edge list;
    closing edges are one more equi-join (semi). Returns a single row
    ``(n_nodes, n_edges, n_triangles)``; each triangle is counted exactly
    once regardless of orientation, so the count equals the naive
    id-ordered oracle's."""
    e = (
        edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
    ).persist()
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient u→v iff (deg(u), u) < (deg(v), v)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    ).persist()
    # out-wedges from a common center (the (deg,id)-minimum of each
    # triangle): each triangle produces exactly one wedge, closed by the
    # canonical undirected edge between the two out-neighbors
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        )
        .select(F.col("e1.t").alias("w1"), F.col("e2.t").alias("w2"))
    )
    tri = wedges.join(
        e, (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")), "inner"
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    out = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
        .select(
            "n_nodes", "n_edges", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
        )
    )
    rows = out.collect()
    oriented.unpersist()
    e.unpersist()
    return edges.sparkSession.createDataFrame(
        rows, "n_nodes long, n_edges long, n_triangles long"
    )


def kcore(
    edges: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_iterations: int = 100,
) -> DataFrame:
    """k-CORE decomposition by iterative peeling: repeatedly remove every
    vertex with degree < k (removals lower neighbors' degrees, so repeat to
    fixpoint). Returns the surviving vertices with their degree INSIDE the
    core — the standard dense-subgraph primitive (community seeds, spam/
    bot rings, influential-user cohorts).

    Shape per round: one degree groupBy + two anti joins on vertex id,
    lineage cut per round (same durability story as pagerank/CC above).
    The convergence probe reads ONE count per round — bounded driver
    traffic. Peeling rounds are ≤ the degeneracy-ordering depth, which is
    tiny on real graphs (power-law graphs peel in tens of rounds
    regardless of vertex count). Raises on non-convergence rather than
    returning a half-peeled core.
    """
    # undirected: every edge contributes to both endpoints' degrees
    e = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    e = cut_lineage(e)
    e.persist()
    for _ in range(max_iterations):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        drop = deg.filter(F.col("deg") < k).select("src")
        drop.persist()
        n_drop = drop.count()
        if n_drop == 0:
            drop.unpersist()
            break
        e_next = e.join(drop, "src", "left_anti").join(
            drop.withColumnRenamed("src", "dst"), "dst", "left_anti"
        )
        e_next = cut_lineage(e_next)
        e_next.persist()
        e.unpersist()
        drop.unpersist()
        e = e_next
    else:
        raise RuntimeError(f"kcore: no fixpoint after {max_iterations} rounds")
    out = e.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg")).select(
        F.col("src").alias("node"), "core_deg"
    )
    return out


def label_propagation(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    rounds: int = 5,
) -> DataFrame:
    """Community detection by synchronous LABEL PROPAGATION (Raghavan et
    al. 2007, arXiv:0709.2938) with a deterministic update rule: each
    round, every vertex adopts the most frequent label among its
    neighbors, ties broken by smallest label — so the fixpoint is
    reproducible (the paper's random tie-break is not, and a
    nondeterministic operator can't be driver-hashed or re-run).

    Distinct from connected components (functions/dedup.py CC finds
    REACHABILITY classes): LPA splits a connected graph into dense
    neighborhoods — the cheap community primitive next to pagerank /
    triangles / k-core in this registry's graph family.

    Shape per round: one join (labels onto the undirected edge list), one
    (dst, label) count groupBy, one max_by per dst — all key-partitioned
    shuffles, no driver traffic; lineage cut per round. A fixed small
    round budget is the standard LPA convention (it converges in a few
    sweeps or oscillates; bounded rounds make cost predictable).
    """
    e = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    e = cut_lineage(e)
    e.persist()
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            e.join(labels, e.src == labels.node)
            .select("dst", "label")
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # most-frequent neighbor label; ties -> smallest label (max_by on
        # (cnt, -label) is the deterministic argmax)
        labels = votes.groupBy("dst").agg(
            F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")))).alias(
                "label"
            )
        ).select(F.col("dst").alias("node"), "label")
        labels = cut_lineage(labels)
    e.unpersist()
    return labels


def copurchase_edges(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """The registry's shared co-purchase EDGE SET: undirected (a < b) part
    pairs appearing in at least ``min_orders`` lineitem-row pairs of the
    same order (multiset semantics: a part listed twice in one order
    weights its pairs twice — the join-based count). Single definition
    consumed by triangles (q160), k-core (q229), LPA (q239), link
    prediction (q251) and mirrored in q247's recursive SQL — change the
    threshold or add degree capping HERE and every graph query moves
    together.

    Shape: one self-equi-join on the order key + one pair groupBy."""
    l1 = lineitem.select("l_orderkey", F.col("l_partkey").alias("a"))
    l2 = lineitem.select("l_orderkey", F.col("l_partkey").alias("b"))
    return (
        l1.join(l2, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_orders)
        .select("a", "b")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
) -> DataFrame:
    """HITS (Kleinberg 1999): hub and authority scores after
    ``iterations`` mutual-reinforcement rounds on a DIRECTED edge list —
    authority(v) accumulates hub mass of in-neighbors, hub(u)
    accumulates authority mass of out-neighbors, each side
    L2-normalized per round (the power method on EᵀE / EEᵀ). Returns
    ``(node, hub, authority)`` for every node.

    Scale shape (mirrors :func:`pagerank`): the edge list is
    repartitioned on the join key once per direction and persisted, so
    every round's two message-passing steps are join+groupBy on the
    co-located frames; norms are one-row aggregates (2 driver rows per
    round, the same bounded-collect contract as pagerank's dangling
    mass); lineage cut per round keeps plans bounded."""
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    by_src = e.repartition("src").persist()
    by_dst = e.repartition("dst").persist()
    by_src.count()
    by_dst.count()
    nodes = (
        e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    ).persist()

    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = None
    for _ in range(iterations):
        # each half-round: persist the raw-score frame BEFORE the norm
        # action so the join+aggregate runs exactly once per direction
        # (norm .first() materializes the cache; the normalized frame and
        # its eager lineage cut then read it back), and feed the join from
        # the edge frame partitioned on the JOIN key (by_src for the
        # src-keyed join, by_dst for the dst-keyed one) so the persisted
        # layout is the one the join consumes
        raw_a = (
            by_src.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("raw"))
            .persist()
        )
        norm_a = raw_a.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nz")).first()["nz"]
        auths = cut_lineage(
            raw_a.select("node", (F.col("raw") / F.lit(norm_a)).alias("authority")),
        )
        raw_a.unpersist()
        raw_h = (
            by_dst.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("raw"))
            .persist()
        )
        norm_h = raw_h.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nz")).first()["nz"]
        hubs = cut_lineage(
            raw_h.select("node", (F.col("raw") / F.lit(norm_h)).alias("hub")),
        )
        raw_h.unpersist()
    out = (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hub", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("authority", F.lit(0.0)), 6).alias("authority"),
        )
    )
    by_src.unpersist()
    by_dst.unpersist()
    nodes.unpersist()
    return out
