"""Iterative connected components: alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond") as a
DataFrame loop — stage 7 of SURVEY.md §7.0.

Pure DataFrame ops (groupBy min + joins), no GraphX/graphframes dependency.
Each round is a bounded number of shuffles; lineage is cut with
``localCheckpoint`` every iteration so plans don't grow (SURVEY.md §4.2).
Converges in O(log n) rounds on pathological graphs; dedup clusters have
tiny diameters so 2-4 rounds are typical.

Node ids are the (string) clip_ids; ``min`` is lexicographic, which is
total and deterministic, so cluster ids are stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: star rounds before the loop gives up on convergence (O(log n) rounds
#: suffice; a 1000-node chain needs 11)
MAX_ITERS = 25
#: at or under this many edges the frontier finishes in one union-find task
LOCAL_FINISH_EDGES = 5_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors to the neighborhood minimum."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        bidir.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect smaller-or-equal neighbors to the neighborhood minimum."""
    pointed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = (
        pointed.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        pointed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_finish(edges: DataFrame) -> DataFrame:
    """Finish a SMALL edge frontier with union-find in ONE executor task.

    The standard two-level CC tail (the star rounds shrink the frontier
    geometrically; once it fits one task, O(log n) further distributed
    rounds are pure scheduling latency).  Executor-side — not a driver
    collect: the single task streams the coalesced partition through
    union-find in O(E alpha) and emits (node, component-min) rows.
    """
    schema = "clip_id string, cluster_id string"

    def finish(it):
        import pandas as pd

        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in it:
            for u, v in zip(pdf["u"], pdf["v"]):
                ru, rv = find(u), find(v)
                if ru != rv:  # union by min => roots stay component minima
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        nodes = set(parent)
        out_n, out_c = [], []
        for x in nodes:
            out_n.append(x)
            out_c.append(find(x))
        roots = sorted(set(out_c) - nodes)
        yield pd.DataFrame(
            {"clip_id": out_n + roots, "cluster_id": out_c + roots}
        )

    return edges.coalesce(1).mapInPandas(finish, schema)


def connected_components(
    edges: DataFrame, max_edges: int | None = None, *, nodes: DataFrame | None = None,
) -> DataFrame:
    """edges(clip_a, clip_b) -> assignments(clip_id, cluster_id).

    ``cluster_id`` is the minimum member id of each component.  Without
    ``nodes`` only ids that appear in an edge are emitted.  With
    ``nodes`` (a frame with a ``clip_id`` column covering every edge
    endpoint) the output has exactly one row per node, and a node in no
    edge is its own cluster.

    Two-level strategy: alternating large-star/small-star rounds while the
    frontier exceeds ``LOCAL_FINISH_EDGES`` edges, then one
    executor-task union-find on the small tail (a test sets the constant
    to 0 to force fully-distributed convergence and asserts both paths
    agree).
    At 10^12 clips the rounds do the shrinking; the tail finish replaces
    only the last O(log n) latency-bound rounds.

    ``max_edges``: an upper bound on the edge count known without a job
    (the pipeline sums checkpoint manifest rows).  At or under the
    threshold the edges go straight to the union-find task — no dedup
    shuffle, no checkpoint, no checksum job.  Duplicate edges and
    self-loops are harmless to union-find.  That task also evaluates
    ``edges`` itself, so pass the bound for cheap inputs such as
    checkpoint reads.
    """
    assign = _components(edges, max_edges)
    if nodes is None:
        return assign
    return (
        nodes.select("clip_id")
        .join(assign, "clip_id", "left")
        .select("clip_id", F.coalesce("cluster_id", "clip_id").alias("cluster_id"))
    )


def _components(edges: DataFrame, max_edges: int | None) -> DataFrame:
    """Assignments of the ids that appear in ``edges``."""
    if max_edges is not None and max_edges <= LOCAL_FINISH_EDGES:
        return _local_finish(
            edges.select(F.col("clip_a").alias("u"), F.col("clip_b").alias("v"))
        )
    cur = (
        edges.select(F.col("clip_a").alias("u"), F.col("clip_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # localCheckpoint(eager=False) cuts the lineage without a separate
    # checkpoint action, but under AQE it is not free: the call itself
    # runs the round's shuffle map stages as jobs (7 on a 20k-edge round
    # at local[4]), and the checksum then runs 2 more, which also fill
    # the checkpoint.
    n_edges, _h = _edge_checksum(cur)  # also materializes the checkpoint
    prev_sig: tuple[int, int] | None = None
    for _ in range(MAX_ITERS):
        if n_edges <= LOCAL_FINISH_EDGES:
            return _local_finish(cur)
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = _edge_checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
        n_edges = sig[0]
    # converged: every edge points node -> component minimum
    members = cur.select(F.col("u").alias("clip_id"), F.col("v").alias("cluster_id"))
    roots = cur.select(F.col("v").alias("clip_id"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).distinct()
