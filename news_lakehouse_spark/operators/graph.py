"""Distributed graph analytics: PageRank and triangle counting.

The reference engine has no graph operators (its graph-shaped need —
collapsing near-duplicate clusters — is served by
``operators.dedupe.connected_components``).  These extend the
LLM-data-pipeline surface with the two other graph primitives a
training-data platform needs:

* **PageRank** — authority ranking over a link/interaction graph
  (crawl prioritization, document-authority weights for sampling).
* **Triangle counting** — per-node clustering density (community
  detection features, spam/bot-net signals on interaction graphs).

Scale design
------------
``pagerank`` runs one shuffle per iteration (a src-keyed join plus a
dst-keyed aggregation) over an edge table that is scanned from the
same persisted, src-partitioned copy every round; the rank state is
node-sized, not edge-sized.  All arithmetic is **integer**: ranks are
carried in ``units`` of mass per node (default 1e12) and every step
is BIGINT add/multiply/floor-divide.  Integer sums are associative,
so the result is bit-identical regardless of partition count, AQE
re-planning, or aggregation order — a reproducibility property float
PageRank cannot offer on a cluster, and what lets a DuckDB oracle
hash-match the output exactly.  Precision: ranks are exact to 1 unit
= ``1/units`` of one node's initial mass per iteration step.

``triangle_stats`` uses the degree-orientation plan (Cohen, "Graph
Twiddling in a MapReduce World", CiSE 2009; Suri & Vassilvitskii,
WWW'11): orient every undirected edge from its lower-(degree, id)
endpoint to the higher one, build wedges only out of each node's
ORIENTED neighbors, and close them with an edge join.  Orientation
bounds the effective out-degree by O(sqrt(m)), so the wedge join
stays near-linear even when raw degrees are skewed (a celebrity node
of degree 1e6 contributes no wedges as a center unless its oriented
out-degree is high, which orientation prevents).  No driver-side
loops or collects — three shuffles total, all on key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_lakehouse_spark.operators.iterstate import (
    LineageTruncator,
    truncate_lineage,
    truncate_observed,
)

__all__ = ["bfs_distances", "pagerank", "triangle_stats"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 10,
    damping_pct: int = 85,
    units: int = 10**12,
    teleport: DataFrame | None = None,
    teleport_col: str = "node",
) -> DataFrame:
    """Integer-exact (optionally personalized) PageRank.

    Returns ``(node BIGINT, rank_units BIGINT)`` — one row per node
    that appears as a source or destination.  ``rank_units`` is the
    node's PageRank mass in integer units; divide by ``units`` for
    the conventional [0, n] scale (sum over nodes ≈ n, minus floor
    losses of < 1 unit per node per step).

    The recurrence per iteration, all in BIGINT arithmetic::

        contrib(e)  = rank(e.src) DIV out_degree(e.src)
        dangling    = sum(rank over nodes with no out-edges)
        rank'(v)    = base(v)
                      + (d * (sum contrib into v + dang(v))) DIV 100

    Classic mode (``teleport=None``): ``base(v) = ((100-d) * units)
    DIV 100`` and ``dang(v) = dangling DIV n`` — uniform teleport and
    uniform dangling redistribution (Page et al. 1999).

    Personalized mode (``teleport`` = a one-column frame of seed
    nodes): the teleport vector concentrates on the |T| seeds, so
    ``base(v) = [v in T] * ((100-d) * units * n) DIV (100 * |T|)``
    and ``dang(v) = [v in T] * (dangling DIV |T|)`` — the
    random surfer restarts at seeds (strongly-preferential PPR),
    giving proximity-to-seeds authority for crawl prioritization /
    seed-set expansion.  Total mass stays ~n*units in both modes.

    ``units`` must satisfy ``n_nodes * units * 100 < 2**63``
    (checked) — for a 1e9-node graph pick ``units=10**7``, still 1e-7
    relative precision.

    Parity note: no reference counterpart (reference has no graph
    ops).
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )

    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(out_deg.withColumnRenamed("src", "node"), "node", "left")
    )
    if teleport is not None:
        seeds = teleport.select(
            F.col(teleport_col).cast("long").alias("node")
        ).distinct()
        nodes = nodes.join(
            seeds.select("node", F.lit(True).alias("is_seed")), "node", "left"
        ).select("node", "out_deg", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    else:
        nodes = nodes.select("node", "out_deg", F.lit(True).alias("is_seed"))
    # persist: reused every iteration as the rank-state frame.
    # ONE probe job (materializing the cache) replaces the former
    # three setup actions — node count, seed count, dangling probe —
    # identical values, a third of the fixed setup cost.
    nodes = nodes.persist()
    probe = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("is_seed"), 1)).alias("ns"),
        F.max(F.col("out_deg").isNull().cast("int")).alias("dang"),
    ).collect()[0]
    n_nodes = probe["n"]
    if n_nodes == 0:
        nodes.unpersist()
        return nodes.select("node", F.lit(0).cast("long").alias("rank_units"))
    n_seeds = probe["ns"] if teleport is not None else n_nodes
    if n_seeds == 0:
        raise ValueError("teleport set shares no nodes with the graph")
    if n_nodes * units >= (2**63 - 1) // 100:
        raise ValueError(
            f"n_nodes*units*100 would overflow BIGINT; lower units "
            f"(n_nodes={n_nodes}, units={units})"
        )
    # src-partitioned once so every iteration's contribution join
    # reuses the same layout instead of re-shuffling the edge table
    e = e.repartition("src").persist()
    # checked once: a dangling-free graph (every node has out-edges)
    # skips the per-iteration redistribution aggregate entirely
    has_dangling = bool(probe["dang"])

    # per-row base: uniform, or concentrated on the teleport set
    base_seed = ((100 - damping_pct) * units * n_nodes) // (100 * n_seeds)
    base_expr = f"if(is_seed, {base_seed}L, 0L)"
    # per-loop truncator: deletes round n-2's reliable checkpoint once
    # round n lands, so a long run holds <=2 x state on the ckpt FS.
    # LOCAL mode defers materialization (eager=False) for every round
    # but the LAST: each round's state is referenced only by the next
    # round's plan (dangling-free graphs) or by its dang broadcast
    # first (full-coverage filter+agg), so the deferred checkpoints
    # cascade-materialize inside the consumer's own job — one job for
    # the whole loop instead of one per iteration (guide §5: fewer
    # driver actions; r11's lazy-ckpt plumbing, now applied to the
    # pagerank loop per r12 verdict item 6). The FINAL round stays
    # eager so the cached nodes/edge frames are still live when the
    # chain actually computes (the triangle_stats unpersist trap).
    # Reliable (cluster) mode is unchanged: always-eager checkpoints.
    _ckpt = LineageTruncator()
    ranks = nodes.select(
        "node", "out_deg", "is_seed",
        F.lit(units).cast("long").alias("rank_units"),
    ).transform(lambda d: _ckpt(d, eager=(iterations == 0)))

    for _it in range(iterations):
        in_sums = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("rank_units DIV out_deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        joined = nodes.join(in_sums, nodes.node == in_sums.dst, "left")
        if has_dangling:
            # dangling mass: a one-row broadcast aggregate INSIDE the
            # iteration plan (crossJoin of a scalar) instead of a
            # separate collect() — one Spark job per iteration, not
            # two, and the checkpointed rank state is scanned within
            # the same job. Integer semantics identical: sum is exact
            # BIGINT, DIV on non-negative mass == the prior Python //.
            dang = ranks.filter(F.col("out_deg").isNull()).agg(
                F.coalesce(F.sum("rank_units"), F.lit(0).cast("long")).alias(
                    "__dang"
                )
            )
            joined = joined.crossJoin(F.broadcast(dang))
            dang_each = f"(__dang DIV {n_seeds}L)"
        else:
            dang_each = "0L"
        ranks = (
            joined.select(
                "node",
                "out_deg",
                "is_seed",
                # all-BIGINT: + * DIV only, so sums stay associative
                F.expr(
                    f"{base_expr} + ({damping_pct}L * (coalesce(in_sum, 0L)"
                    f" + if(is_seed, {dang_each}, 0L))) DIV 100"
                ).alias("rank_units"),
            )
            # truncate lineage: each round's plan starts from
            # materialized state, not the whole iteration chain
            # (deferred until a consumer computes it, except the
            # final round — see the loop-head comment)
            .transform(
                lambda d, _last=(_it == iterations - 1): _ckpt(
                    d, eager=_last
                )
            )
        )
    # the returned frame is checkpointed — the cached inputs are dead
    # weight once the loop ends
    nodes.unpersist()
    e.unpersist()
    return ranks.select("node", "rank_units")


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node triangle counts over an undirected edge list.

    Input rows are undirected edges in either orientation (duplicates
    and self-loops tolerated — canonicalized away).  Returns one row
    per node: ``(node BIGINT, degree BIGINT, wedges BIGINT,
    triangles BIGINT)`` where ``wedges = degree*(degree-1)/2`` is the
    node's potential closed-pair count (the local-clustering
    denominator) and ``triangles`` the number of triangles through
    the node.  ``sum(triangles) = 3 * total_triangles``.

    Plan: canonicalize → degree → orient each edge by
    (degree, node) → wedge self-join on the oriented source → close
    with an edge join → explode each triangle's three corners and
    count.  The (degree, node) total order counts each triangle
    exactly once and bounds the wedge fan-out by O(sqrt(m)).
    """
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    und = (
        edges.select(lo.cast("long").alias("lo"), hi.cast("long").alias("hi"))
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # orient: (u -> v) iff (deg_u, u) < (deg_v, v); carry v's order key
    # so the wedge join can order its two endpoints without re-joining
    dl = deg.select(F.col("node").alias("lo"), F.col("degree").alias("dlo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("degree").alias("dhi"))
    keyed = und.join(dl, "lo").join(dh, "hi")
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = keyed.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(lo_first, F.struct("dhi", "hi")).otherwise(
            F.struct(F.col("dlo").alias("dhi"), F.col("lo").alias("hi"))
        ).alias("vkey"),
    ).persist()

    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(o2, F.col("o1.u") == F.col("o2.u")).filter(
        F.col("o1.vkey") < F.col("o2.vkey")
    ).select(
        F.col("o1.u").alias("w0"),
        F.col("o1.v").alias("w1"),
        F.col("o2.v").alias("w2"),
    )
    closer = oriented.select(F.col("u").alias("w1"), F.col("v").alias("w2"))
    tris = wedges.join(closer, ["w1", "w2"])

    per_node = (
        tris.select(F.explode(F.array("w0", "w1", "w2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        # integer DIV: float division is exact only below 2^53, and
        # the DuckDB oracle uses '//' — extreme degrees must not drift
        F.expr("degree * (degree - 1) DIV 2").alias("wedges"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    # node-sized: materialize so the multi-referenced cached inputs
    # can be released before the caller consumes the result
    ).transform(truncate_lineage)
    und.unpersist()
    oriented.unpersist()
    return out


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_hops: int,
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: hop distance from any seed, capped at
    ``max_hops``.  The link-distance primitive of a crawl/curation
    pipeline (depth from seed domains, contamination blast radius).

    Returns ``(node BIGINT, dist INT)`` for every node reachable
    within ``max_hops`` hops of a seed (seeds themselves at 0; a node
    reached by several paths gets the minimum hop count, and a seed
    is always 0 regardless of in-edges).

    Frontier-based: each round expands ONLY the nodes discovered in
    the previous round (one src-keyed join), removes already-visited
    nodes with an anti-join against the state, and stops early when
    the frontier empties.  Both state and frontier are node-sized;
    the edge table is the only big operand and is joined once per
    round on its partitioning key — the textbook Pregel BFS shape.
    Lineage is truncated per round so plans stay flat at high hop
    counts.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).repartition("src").persist()
    state = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        # stateless truncation on purpose: visited below unions EVERY
        # hop's frontier, so no hop's checkpoint is dead until the
        # caller finishes — LineageTruncator's delete would be wrong
        .transform(truncate_lineage)
    )
    # visited = lazy union of per-hop checkpointed frontiers: each
    # node is materialized exactly once (O(V) total, not O(V*hops))
    # and the union's lineage stays flat because every leg is flat
    frontier, visited = state, state
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
        )
        # the frontier's size is observed while it is materialized
        nxt, n_new = truncate_observed(nxt, F.count(F.lit(1)))
        if n_new == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    e.unpersist()
    return visited
