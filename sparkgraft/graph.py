"""Iterative graph analytics on DataFrames.

PageRank (Brin & Page 1998) as a bounded driver loop of pure
DataFrame plans — the same design contract as the connected-components
resolver (dedup.near_dup_clusters), the IVF trainer and the logistic
trainer: the driver never holds a data row, only loop control; each
iteration is one join + one aggregate, both keyed on the node id.

Scale shape per iteration: the edge table joins the |nodes|-row rank
table on ``src`` (one shuffle, or zero if both sides are bucketed by
node), contributions aggregate on ``dst`` (second shuffle), and the
dangling-mass term is a 1-row in-plan aggregate cross-joined back —
no driver scalar per iteration. Each generation's rank table is
``localCheckpoint``-ed (eager): the new plan references ranks TWICE
(contributions and dangling mass), so an untruncated lineage doubles
per generation and the optimizer itself OOMs around iteration 8-10 —
the same geometric-plan failure mode measured in
``dedup.near_dup_clusters``; checkpointing keeps the plan O(1) deep.

Determinism: per-edge contributions are cast to ``decimal(38,10)``
before summing (double summation is order-sensitive; decimal is not),
so ranks are identical under any partitioning — and reproducible by
an engine-independent oracle that unrolls the same iterations in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "degree_stats", "triangle_count"]

_DEC = "decimal(38,10)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iters: int = 10,
    tol: float | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list.

    ``rank_{k+1}(v) = (1-d)/N + d * (sum over in-edges (u,v) of
    rank_k(u) * w(u,v) / out_w(u)) + d * dangling_k / N`` — the
    standard formulation (damping d = 0.85) with dangling-node mass
    (nodes with no out-edges) redistributed uniformly, so ranks sum to
    1 every iteration (checked in tests to 1e-6).

    The node-count denominator is collected ONCE before the loop (a
    single bounded scalar, the IVF-trainer precedent); everything per
    iteration stays in-plan. With ``tol`` set, iteration stops early
    once the L1 rank movement ``sum(|r_new - r_old|)`` falls below it
    — a 1-row driver probe per iteration, the same documented
    fixpoint-termination exception as connected components; ``iters``
    remains the hard cap either way. Returns ``(node, rank)`` with
    rank rounded to 6 places for engine-portable comparison.
    """
    w: Column = F.lit(1.0) if weight_col is None else F.col(weight_col).cast(
        "double"
    )
    # NULL endpoints carry no usable identity: drop the edge rather
    # than materialize a NULL node that joins to nothing. Edges with
    # non-positive weight carry no rank mass either — but their
    # SOURCE must not appear in outw, or a node whose out-weights sum
    # to 0 divides by __ow = 0, its contributions go NULL, and its
    # rank mass silently evaporates (ranks stop summing to 1). Nodes
    # still enter the graph via ``nodes`` below; filtering here just
    # makes zero-out-weight sources properly dangling.
    e = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w"))
    nodes_src = e
    e = e.where(F.col("__w") > 0)
    nodes = (
        nodes_src.select(F.col("__s").alias("node"))
        .union(nodes_src.select(F.col("__d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return edges.sparkSession.createDataFrame([], "node long, rank double")
    outw = e.groupBy("__s").agg(F.sum("__w").alias("__ow")).persist()

    d = 0.85  # damping
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r")).localCheckpoint()
    try:
        for _ in range(iters):
            contribs = (
                e.join(ranks.withColumnRenamed("node", "__s"), "__s")
                .join(outw, "__s")
                .select(
                    F.col("__d").alias("node"),
                    (F.lit(d) * F.col("r") * F.col("__w") / F.col("__ow"))
                    .cast(_DEC)
                    .alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            dangling = (
                ranks.join(
                    outw.withColumnRenamed("__s", "node"), "node", "left_anti"
                )
                .agg(
                    F.coalesce(
                        F.sum((F.lit(d) * F.col("r")).cast(_DEC)),
                        F.lit(0).cast(_DEC),
                    ).alias("dg")
                )
            )
            new_ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - d) / n)
                        + F.coalesce(
                            F.col("c").cast("double"), F.lit(0.0)
                        )
                        + F.col("dg").cast("double") / F.lit(float(n))
                    ).alias("r"),
                )
                .localCheckpoint()
            )
            if tol is not None:
                delta = (
                    new_ranks.withColumnRenamed("r", "rn")
                    .join(ranks.withColumnRenamed("r", "ro"), "node")
                    .agg(
                        F.sum(
                            F.abs(F.col("rn") - F.col("ro")).cast(
                                "decimal(38,10)"
                            )
                        ).alias("d")
                    )
                    .collect()[0]["d"]
                )
                ranks = new_ranks
                if float(delta) < tol:
                    break
            else:
                ranks = new_ranks
        return ranks.select("node", F.round("r", 6).alias("rank"))
    finally:
        nodes.unpersist()
        outw.unpersist()


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node in/out degree — the profiling pass before any graph
    algorithm (hub detection feeds the same skew mitigations as hot
    join keys: salting, hub caps). One aggregate per direction, one
    outer-join merge. NULL-endpoint edges are dropped under the SAME
    policy as ``pagerank`` — the profiling pass must not report a
    NULL node the algorithm will never see."""
    e = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    out_d = e.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = e.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph —
    the community-structure / clustering-coefficient primitive
    (a bipartite graph like the customer<->supplier trade graph has
    none by construction, which is itself a checkable property).

    Scale shape is the classic degree-ORIENTED wedge join (node
    iterator with orientation; cf. Suri & Vassilvitskii 2011, "Counting
    Triangles and the Curse of the Last Reducer"): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one, build wedges by self-joining the oriented list on the source,
    and close each wedge against the oriented edge set. Orientation
    bounds per-node wedge fan-out by the node's ORIENTED out-degree
    (O(sqrt(m)) on skewed graphs instead of the hub's full degree), so
    the star-hub key that kills the naive wedge join never forms —
    the curse-of-the-last-reducer mitigation, same family as the
    salted-join treatment of hot keys. Every triangle {a, b, c} is
    enumerated exactly once (its unique orientation-consistent wedge),
    then credited to all three corners.

    NULL endpoints and self-loops are dropped under the module's edge
    policy; parallel edges collapse via distinct. Nodes in no triangle
    are absent (callers outer-join degree_stats for zeros).
    """
    e = (
        edges.where(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low -> high by (degree, id): ties broken by id make the
    # orientation a strict total order, so the oriented graph is acyclic
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # wedges from each oriented source; b < c dedups the unordered pair
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").where(F.col("x") < F.col("y"))
    # close the wedge: the third side may be oriented either way
    closer = oriented.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tris = wedges.join(closer, ["x", "y"])
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
