"""Distributed connected components — the missing last stage of every
pair-based dedup pipeline (MinHash-LSH / Jaccard / SimHash emit PAIRS;
deduplication needs GROUPS: near-duplicate clusters are the transitive
closure of the pair relation, and the survivor is one doc per cluster).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed as
DataFrame joins/aggregations:

* ``large_star``: every node connects its strictly-larger neighbors to
  its minimum neighbor (including itself);
* ``small_star``: every node connects its smaller-or-equal neighbors
  to its minimum neighbor.

Each round is two shuffles on node ids (8-byte keys); the edge set
contracts toward a star per component in O(log^2 n) rounds — no
per-node message loops, no vertex-program framework, just groupBy +
join, so AQE handles skewed (hub) nodes with the same machinery as any
hot aggregation key. The driver controls ONLY the loop-and-converge
check (a count per round); edge data never leaves the executors, and
``localCheckpoint`` truncates the growing lineage each round — without
it, iteration k replans all k-1 predecessors.

At 100 TB the pair stage (LSH banding) dominates; components run over
the pair OUTPUT, which is orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Large+small-star rounds before connected_components gives up.
_MAX_ROUNDS = 25


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list -> canonical directed (u > v joins toward
    smaller ids later); drops self-loops and duplicates."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges_uv: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., Algorithm 2): for every node
    u, connect each strictly-larger neighbor to m(u) = min(N(u) ∪ {u}).
    Input/output: canonical directed edges (u > v)."""
    sym = edges_uv.select(F.col("u").alias("a"), F.col("v").alias("b")).union(
        edges_uv.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    m = sym.groupBy("a").agg(F.min("b").alias("mb")).select(
        "a", F.least("a", F.col("mb")).alias("m")
    )
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(m, "a")
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges_uv: DataFrame) -> DataFrame:
    """Small-star round (Algorithm 3): for every node u, connect all of
    its smaller neighbors (and u itself) to m(u) = min of those
    neighbors. Input/output: canonical directed edges (u > v)."""
    m = edges_uv.groupBy("u").agg(F.min("v").alias("m"))
    joined = edges_uv.join(m, "u")
    relink = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_link = m.select(F.col("u"), F.col("m").alias("v"))
    return (
        relink.union(self_link)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge
    DataFrame. Returns ``(node, component)`` where ``component`` is the
    MINIMUM node id in the component — deterministic, so downstream
    dedup survivors are stable across runs and cluster layouts.

    Converges in O(log^2 n) large/small-star rounds; raises if 25
    rounds (``_MAX_ROUNDS``, enough for any realistic graph) pass
    without reaching the fixpoint rather than returning a possibly
    wrong labeling.

    ``stats``, when supplied, receives ``{"rounds": <int>}`` — the
    number of large+small-star rounds executed before the fixpoint —
    so tests can pin the convergence bound (tests/test_graph.py).

    Nodes only ever appearing as isolated vertices must be handled by
    the caller (see :func:`assign_dedup_groups`): an edge list cannot
    mention them.
    """
    def _signature(df: DataFrame) -> tuple[int, int]:
        """(count, sum of 64-bit edge hashes) in ONE job — the cheap
        per-round fixpoint probe. Two successive DISTINCT edge sets
        with equal size and equal hash-sum are treated as equal; the
        final exact exceptAll confirmation below removes the residual
        2^-64-class collision risk from the correctness guarantee."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI arithmetic
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    cur = _canonical(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=True)
    cur_sig = _signature(cur)
    converged = cur_sig[0] == 0
    rounds = 0
    for _ in range(_MAX_ROUNDS):
        if converged:
            break
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        rounds += 1
        nxt_sig = _signature(nxt)
        if nxt_sig == cur_sig and nxt.exceptAll(cur).isEmpty():
            converged = True
        cur, cur_sig = nxt, nxt_sig
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds"
        )
    # cur is a star per component: (u, component-min v). Roots appear
    # only on the right side; add their self-assignments.
    roots = cur.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def assign_dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Near-dup group assignment: every row of ``df`` gets a
    ``group_id`` (the minimum ``id_col`` of its near-dup cluster, from
    the transitive closure of ``pairs``, an ``(id_a, id_b)`` frame as
    every pair operator emits) and an ``is_survivor`` flag
    (true exactly once per group — on the minimum id). Rows in no pair
    are their own singleton group.

    The left join against the (small) component map is broadcast-
    friendly; the corpus never reshuffles.
    """
    comp = connected_components(pairs, src="id_a", dst="id_b")
    out = df.join(comp, df[id_col] == comp["node"], "left").drop("node")
    group = F.coalesce(F.col("component"), F.col(id_col))
    return (
        out.withColumn("group_id", group)
        .withColumn("is_survivor", (F.col(id_col) == F.col("group_id")))
        .drop("component")
    )
