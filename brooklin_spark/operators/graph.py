"""Distributed graph builders and kernels over edge-pair DataFrames.

The builders turn fact rows into graph shapes: `baskets` groups each
order's parts, `pairs_within` generates every in-array pair (the
co-purchase candidate generator — combinations inside the row pipeline
after ONE key-grouped exchange, never a table self-join), `doubled`
turns undirected pairs into a both-direction edge table and
`sorted_adjacency` groups that table into per-node neighbor arrays. Each
returns a lazy frame; the caller decides what to materialize.

The iterative algorithms (PageRank, label propagation, n-hop BFS, the
kcore peel) live in their queries — their loop structure is the query.
`triangle_census` is the one-shot kernel reusable as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, parts): each order's sorted DISTINCT part keys, from ONE
    orderkey exchange. No (orderkey, partkey) DISTINCT before the groupBy
    — array_distinct de-dups inside the aggregate, so a separate one
    would be a second fact-scale exchange. Because parts are distinct
    per order, a per-pair count(*) over `pairs_within` IS the
    distinct-order support count."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("parts")
    )


def pairs_within(df: DataFrame, arr: str, a: str, b: str, *carry: str) -> DataFrame:
    """Every pair (a, b) with a < b inside the sorted distinct array column
    `arr` of each row (posexplode x slice), plus the `carry` columns.
    C(len, 2) rows per input row, generated locally: the array's own
    length bounds the blow-up, and nothing is shuffled or joined."""
    return df.select(*carry, F.posexplode(arr).alias("i", a), F.col(arr)).select(
        *carry, a, F.explode(F.expr(f"slice({arr}, i + 2, size({arr}))")).alias(b)
    )


def doubled(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) in both directions from undirected (a, b) pairs."""
    return pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionAll(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )


def sorted_adjacency(edges: DataFrame) -> DataFrame:
    """(src, nb): each node's sorted distinct neighbors, one src exchange —
    the wedge center for `pairs_within`, with deg = size(nb)."""
    return edges.groupBy("src").agg(
        F.array_sort(F.array_distinct(F.collect_list("dst"))).alias("nb")
    )


def triangle_census(pairs: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient for an
    undirected simple graph given as (pa, pb) pairs with pa < pb.

    Degree-ORIENTED counting: each edge is directed from its
    (degree, id)-smaller endpoint to the larger, so every triangle is
    generated by exactly one wedge at its smallest corner and out-degrees
    are bounded by O(sqrt(E)) — a node of out-degree d has d neighbors of
    degree >= its own, so d^2 <= 2E. The wedge self-join is therefore
    self-capping (the celebrity node generates no wedges at its own
    corner). Exact integers end-to-end; the clustering coefficient
    3T / W (W = sum C(deg, 2)) is the single final IEEE division.

    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering).
    """
    # LAZY cuts (r8): every consumer below sits inside the caller's one
    # action, so first materialization caches for the rest — two fewer
    # job launches than eager cuts (measured at sf0.1)
    pairs = pairs.select("pa", "pb").localCheckpoint(eager=False)  # degree + orientation
    # deg is consumed three times (both orientation-join sides + stats);
    # without a cut each consumer re-aggregates the pair table. Node-scale
    # lazy cut, same as the pairs/oriented cuts above/below.
    deg = (
        pairs.select(F.col("pa").alias("v"))
        .unionAll(pairs.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    ).localCheckpoint(eager=False)
    da, db = deg.alias("da"), deg.alias("db")
    j = pairs.join(da, F.col("pa") == F.col("da.v")).join(
        db, F.col("pb") == F.col("db.v")
    )
    fwd = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("pa") < F.col("pb"))
    )
    oriented = j.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(fwd, F.col("db.d")).otherwise(F.col("da.d")).alias("ddeg"),
    ).localCheckpoint(eager=False)  # wedge join (both sides) + closure probe
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    lt = (F.col("o1.ddeg") < F.col("o2.ddeg")) | (
        (F.col("o1.ddeg") == F.col("o2.ddeg")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(o2, (F.col("o1.src") == F.col("o2.src")) & lt).select(
        F.col("o1.dst").alias("b"), F.col("o2.dst").alias("c")
    )
    closed = wedges.join(
        oriented,
        (F.col("b") == F.col("src")) & (F.col("c") == F.col("dst")),
        "left_semi",
    )
    tri = closed.agg(F.count("*").alias("t"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.coalesce((F.sum("d") / 2).cast("bigint"), F.lit(0)).alias("n_edges"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint"), F.lit(0)
        ).alias("n_wedges"),
    )
    # two 1-row sides: the whitelisted scalar crossJoin. A wedge-free
    # graph (empty input, perfect matching) has clustering 0 by
    # convention, not NULL — guard the division.
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").cast("bigint").alias("n_triangles"),
        F.when(
            F.col("n_wedges") > 0, (3.0 * F.col("t")) / F.col("n_wedges")
        )
        .otherwise(F.lit(0.0))
        .alias("global_clustering"),
    )
