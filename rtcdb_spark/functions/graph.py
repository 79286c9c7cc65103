"""Distributed graph primitives on edge-list DataFrames (SURVEY §2 C-IX
adjunct — duplicate-cluster graphs, co-occurrence graphs).

Connected components (min-label propagation) lives in
`rtcdb_spark.functions.dedup.connected_components`; this module adds degree
computation and PageRank. Everything operates on plain `(src, dst)` edge
DataFrames — no graph library, no driver-side adjacency: each iteration is
one equi-join + one aggregate, the same shuffle shape at 1k or 10^11 edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtcdb_spark.session import narrow_shuffle


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of an edge list: both orientations, self-loops
    dropped, duplicates collapsed."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per node of a directed edge list → (node, deg)."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    round_to: int = 12,
    checkpoint_every: int = 2,
) -> DataFrame:
    """PageRank by power iteration over a directed edge list → (node, rank).

    Per iteration: contributions flow along edges (rank/outdeg), are summed
    per destination as exact DECIMAL(38,15) — decimal addition is exact and
    associative, so any aggregation order (Spark partials, DuckDB parallel
    groups, retries) yields the same total — then blend with the (1-d)/N
    teleport term. Rounding each iteration to `round_to` decimals keeps
    cross-engine drift at zero. Scale 15 (not 18) is deliberate: for
    contributions < 1 the unscaled value |v|*10^15 stays under 2^53, so the
    double→decimal cast itself is bit-identical across engines (at scale 18
    the cast multiplies outside double-exact range and diverges ±1 ulp on
    ~half of inputs); 1e-15 still sits three orders below the per-iteration
    rounding. Unlike a sorted-list fold, the decimal sum keeps map-side
    partial aggregation: the shuffle carries one partial per (node,
    partition), not every edge contribution.

    Scale shape: the edge list is the only large relation; each iteration is
    one join against the (nodes-sized) rank table and one aggregate. The
    rank/out-degree tables get no broadcast hint — they are node-cardinality,
    which at web scale (10^9+ nodes) must not be forced driver-side; AQE
    broadcasts them when they actually fit and falls back to a shuffle hash
    join keyed on src otherwise. Dangling nodes (no out-edges) keep teleport
    mass only, matching the classic formulation without a
    dangling-redistribution pass; symmetrize() first for undirected graphs
    (no dangling nodes by construction).
    """
    # Every iteration re-reads the edge list and node set; without a persist
    # the whole upstream pipeline (source scan, symmetrize distincts) would
    # re-execute once per iteration. A cache the caller made is the
    # caller's to release: only a persist made here is undone below.
    owns_edges_cache = not edges.is_cached
    if owns_edges_cache:
        edges = edges.persist()
    m = edges.count()  # materializes the persisted edge list; sizes the loop
    # Every shuffle planned below runs under narrow_shuffle, sized to the
    # edge relation: a persist fixes its plan's width when it is called, and
    # under AQE even a lazy localCheckpoint runs every shuffle stage of its
    # plan when it is called, so the mid-loop checkpoints execute rounds
    # there, not at the final checkpoint.
    with narrow_shuffle(edges.sparkSession, m):
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        n = nodes.count()
        # Out-degrees are loop-invariant: persist so the per-iteration plan
        # reads a cached node-sized table instead of re-aggregating the edge
        # list.
        out = degrees(edges).persist()
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        teleport = (1.0 - damping) / n
        for it in range(n_iter):
            # Pre-reduce to a per-source contribution *rate* (rank/outdeg)
            # before touching the edge list: the two node-sized tables join
            # each other first, so the (dominant) edge relation participates
            # in ONE join per iteration instead of two — half the edge-sided
            # join input.
            rates = ranks.join(out, "node").select(
                "node", (F.col("rank") / F.col("deg")).alias("w")
            )
            contribs = edges.join(rates, edges["src"] == rates["node"]).select(
                F.col("dst").alias("node"), F.col("w").alias("c")
            )
            summed = contribs.groupBy("node").agg(
                F.sum(F.col("c").cast("decimal(38,15)")).cast("double").alias("s")
            )
            ranks = nodes.join(summed, "node", "left").select(
                "node",
                F.round(
                    F.lit(teleport) + damping * F.coalesce(F.col("s"), F.lit(0.0)),
                    round_to,
                ).alias("rank"),
            )
            # Lineage grows linearly with iterations; truncate periodically
            # so long runs don't re-execute the whole chain per job or blow
            # the planner. eager=False only saves the checkpoint's own count
            # job; the round's shuffle stages still run here (see above).
            if (it + 1) % checkpoint_every == 0 and it + 1 < n_iter:
                ranks = ranks.localCheckpoint(eager=False)
        ranks = ranks.localCheckpoint()
    out.unpersist()
    nodes.unpersist()
    if owns_edges_cache:
        edges.unpersist()
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle census of an undirected graph → one row
    (n_triangles, n_wedges, clustering_coeff).

    Degree-ordered enumeration (Cohen's MapReduce scheme / Latapy's
    compact-forward): orient every edge from its lower-(degree, id)
    endpoint to the higher one, generate wedges only at each edge's LOW
    endpoint, and close them against the oriented edge set. Orientation
    caps the per-node wedge fan-out at O(√m) on any graph — the hub that
    would make naive wedge-join quadratic has huge in-degree but tiny
    out-degree — so the wedge relation stays near-linear in m and the
    whole census is two equi-joins plus map-combined aggregates; nothing
    driver-side. The clustering coefficient divides two exact integers
    once (IEEE-identical everywhere).

    `edges` must be the symmetrized view (both orientations present);
    wedge counts use the true undirected degree."""
    deg = degrees(edges)
    canon = edges.filter(F.col("src") < F.col("dst"))
    with_deg = (
        canon.join(deg.select(F.col("node").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    src_lower = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    directed = with_deg.select(
        F.when(src_lower, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_lower, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(src_lower, F.col("ddeg")).otherwise(F.col("sdeg")).alias("hideg"),
    )
    p, q = directed.alias("p"), directed.alias("q")
    wedges = p.join(q, F.col("p.lo") == F.col("q.lo")).filter(
        (F.col("p.hideg") < F.col("q.hideg"))
        | ((F.col("p.hideg") == F.col("q.hideg")) & (F.col("p.hi") < F.col("q.hi")))
    ).select(F.col("p.hi").alias("y"), F.col("q.hi").alias("z"))
    # The wedge filter orders (y, z) by the SAME (deg, id) rank that oriented
    # the edges, so a closing edge {y, z} can only appear as lo=y → hi=z:
    # one orientation to join against, half the probe input.
    closed = wedges.join(
        directed.select(F.col("lo").alias("y"), F.col("hi").alias("z")), ["y", "z"]
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    wed = deg.agg(
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("bigint").alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        ((F.lit(3) * F.col("n_triangles")) / F.col("n_wedges")).alias("clustering_coeff"),
    )


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, deterministic
    variant) on a symmetrized edge list: labels start as node ids; each
    iteration every node adopts its neighbors' most frequent label, ties
    broken toward the smallest label. Returns (node, label) after n_iter
    rounds.

    Scale shape: per iteration one equi-join (edges x labels — the label
    side is nodes-sized), one (node, label) count aggregate with map-side
    combine, then the per-node argmax as a second HASH aggregate
    (``max_by`` over (cnt, -label) — count desc, label asc) rather than a
    row_number sort-window: two partial-agg shuffles on `node`, no
    per-node ordering anywhere (VERDICT r3 item 3). State stays O(nodes);
    the edge list should be persisted by the caller when n_iter > 1 (the
    query layer does)."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    m = edges.count()  # materializes the caller's persist; sizes the loop
    for _ in range(n_iter):
        counts = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax(count desc, label asc) == max_by over the struct
        # (cnt, -label): structs compare field-by-field, so higher count
        # wins first and, on ties, the larger -label (= smaller label).
        labels = counts.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    # The eager localCheckpoint runs the unrolled rounds under
    # narrow_shuffle, so their shuffles are sized to the edge relation.
    with narrow_shuffle(edges.sparkSession, m):
        return labels.localCheckpoint()
