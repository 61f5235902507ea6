"""Graph algorithms over edge DataFrames: weighted PageRank by power
iteration.

Extension beyond the reference's dataflow surface (it has no graph ops);
the motivating pipeline shape is real, though: derive an entity graph
from a 100 TB fact table (who-trades-with-whom, doc-links-doc), project
it down to edge weights with one aggregation, then iterate on the
projected graph. The projection is the expensive distributed part; the
iteration touches only (nodes + edges) rows per step.

Scale: each iteration is one join (ranks ⋈ edges on src — edges are
hash-partitioned by src once and the partitioning is reused every
iteration) plus one partial-aggregable groupBy(dst). Lineage is truncated
per iteration with an eager ``localCheckpoint`` — the same discipline as
``llm.dedup``'s connected-components loop, without which the plan doubles
every step. No driver-side collect anywhere; ranks stay a DataFrame.

Determinism (the contract oracle hash-compares against DuckDB): the
per-node sum of in-neighbor contributions is a float sum, so each
contribution is snapped to a 1e-9 grid as an INTEGER
(``ROUND(r·p·1e9) → BIGINT``) and summed exactly — order-free, so both
engines iterate through bit-identical rank vectors. Bound: int64 holds
total snapped mass ≤ 9.2e18, i.e. ranks summing to ≤ 9e9 — PageRank mass
sums to ~1, so the grid never overflows at any graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Contribution snap grid (see module docstring).
GRID = 1_000_000_000.0


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank after ``iters`` power iterations.

    ``edges``: (src, dst, weight) with integer weights. Out-edge weights
    are normalized per source (p = w / Σ_src w); dangling nodes (no
    out-edges) leak their mass — the standard simplification, mirrored
    exactly by the contract oracle. Returns ``(node, rank)`` unrounded;
    callers round for display/hashing.
    """
    from ..cacheutil import materialize, release

    # Materialize the projected edge list ONCE: nodes, out-weights, the
    # normalized edges AND every power iteration all consume it, and
    # without the checkpoint each consumer replans the full upstream
    # projection (for the contract query, the 4-table fact join — r14:
    # ~7 redundant subtree executions in the before-plan). The edge list
    # is (nodes + edges)-sized by contract, not fact-sized — which at
    # 100 TB is still big enough that losing its executor-local blocks
    # mid-iteration must not kill the job: cacheutil.materialize routes
    # to a reliable checkpoint under the cluster profile (r15).
    e = materialize(
        edges.select(
            F.col(src_col).alias("_src"),
            F.col(dst_col).alias("_dst"),
            F.col(weight_col).cast("long").alias("_w"),
        )
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_wout"))
    en = e.join(outw, "_src").select(
        "_src",
        "_dst",
        (F.col("_w").cast("double") / F.col("_wout").cast("double")).alias("_p"),
    )
    n_nodes = nodes.agg(F.count("*").cast("double").alias("_nn"))
    base = (F.lit(1.0) - F.lit(damping)) / F.col("_nn")

    ranks = nodes.join(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("_nn")).alias("rank")
    )
    for _ in range(iters):
        contribs = (
            en.join(ranks, en["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.round(F.col("rank") * F.col("_p") * F.lit(GRID), 0)
                .cast("long")
                .alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        superseded = ranks
        ranks = materialize(
            nodes.join(contribs, "node", "left")
            .join(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * (F.coalesce(F.col("_s"), F.lit(0)).cast("double") / F.lit(GRID))
                ).alias("rank"),
            )
        )
        # the new checkpoint is materialized — the previous iteration's
        # blocks will never be read again (dedup_clusters discipline)
        release(superseded)
    if iters > 0:
        # the returned frame is itself checkpointed; the edge blocks are
        # done (checkpoint lineage cannot recompute, so only release when
        # the result no longer reads them)
        release(e)
    return ranks


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonicalize a directed edge list to distinct undirected pairs
    ``(u, v)`` with ``u < v`` (self-loops dropped) — the input shape the
    triangle counter requires. One distinct shuffle."""
    return (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge set
    ``(u, v)`` with ``u < v`` (from ``undirected_edges``).

    Enumeration joins wedges to closing edges with the vertices ordered
    ``a < b < c``, so each triangle is materialized exactly once:
    E(a,b) ⋈ E(b,c) ⋈ E(a,c). Per-node counts then credit all three
    corners via an explode. Returns ``(node, n_triangles)`` for nodes in
    ≥1 triangle.

    Scale: this is the standard distributed triangle join — two
    equi-join shuffles keyed on vertices; the a<b<c ordering is what
    keeps the wedge join from emitting each triangle 6×. For power-law
    graphs use ``triangle_counts_oriented`` (degree orientation bounds
    the wedge explosion at hubs); the contract graph (nation trade) is
    tiny and dense, where plain vertex-ordering is optimal. No floats
    anywhere, so the DuckDB oracle matches exactly."""
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, e1["b"] == e2["b2"])
        .join(e3, (F.col("a") == e3["a3"]) & (F.col("c") == e3["c3"]))
        .select("a", "b", "c")
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_triangles"))


def triangle_counts_oriented(und: DataFrame) -> DataFrame:
    """Degree-oriented triangle counting — identical output to
    ``triangle_counts``, with the wedge explosion bounded for power-law
    graphs.

    Every edge is oriented from its lower- to its higher-(degree, node)
    endpoint (the tiebroken total order makes the orientation acyclic),
    and wedges are enumerated only at each node's OUT-neighbors. A
    triangle has exactly one vertex whose both triangle edges point out
    (the minimum under the total order), so each triangle is produced
    once, then closed against the canonical undirected edge set.

    Why this beats id-ordering at scale: with ``a < b < c`` the wedge
    center is an arbitrary *id* — a hub with a mid-range id owns
    deg²/4 wedges. Orientation caps every out-degree at O(√m) (a node
    of degree d > √2m has all its ≥-degree neighbors summing past 2m),
    so the wedge count is Σ outdeg² ≤ O(m^1.5) — the arboricity bound —
    regardless of skew: a degree-10⁶ hub contributes ZERO wedges because
    all its edges point in. Costs one extra degree aggregation + two
    broadcast-or-shuffle joins against the (node, degree) table; worth
    it exactly when the graph is skewed (web, social, citation graphs).

    Pure integer pipeline; returns ``(node, n_triangles)`` for nodes in
    ≥1 triangle, bit-identical to ``triangle_counts``."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("_d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("_d").alias("_dv"))
    e = und.join(du, "u").join(dv, "v")
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    w1 = oriented.select(F.col("src").alias("_s"), F.col("dst").alias("_x"))
    w2 = oriented.select(F.col("src").alias("_s2"), F.col("dst").alias("_y"))
    # unordered out-neighbor pair, canonicalized by id so the closing
    # lookup hits the undirected (u < v) edge table directly
    wedges = w1.join(w2, (w1["_s"] == w2["_s2"]) & (w1["_x"] < w2["_y"])).select(
        "_s", "_x", "_y"
    )
    tri = wedges.join(und, (wedges["_x"] == und["u"]) & (wedges["_y"] == und["v"]))
    corners = tri.select(F.explode(F.array("_s", "_x", "_y")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_triangles"))


def top_weight_edges(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Sparsify a weighted directed edge list to each source's top-``k``
    destinations by ``(weight DESC, dst ASC)`` — the standard kNN-graph
    construction that keeps downstream neighborhood analytics (common
    neighbors, triangles) meaningful on graphs that are otherwise
    near-complete (every nation trades with every nation; only the TOP
    partners carry signal). Degree ≤ k by construction, so wedge volume
    is bounded k²·|nodes| at any scale. One per-source window (hash
    exchange on src). Determinism: rank by the weight with the dst key
    as total-order tiebreak — use an exact integer weight (counts, cents)
    so Spark and a SQL oracle rank identically; a float SUM's ordering
    is summation-order-dependent. Returns ``(src, dst)``."""
    w = Window.partitionBy(src_col).orderBy(
        F.col(weight_col).desc(), F.col(dst_col)
    )
    return (
        edges.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(src_col, dst_col)
    )


def common_neighbor_scores(und: DataFrame, k: int = 20) -> DataFrame:
    """Link prediction by common-neighbor count (Liben-Nowell & Kleinberg
    2003's strongest simple baseline): for NON-adjacent node pairs, how
    many shared neighbors — the pairs most likely to become edges. The
    recommendation primitive ("customers in nations that trade with the
    same partners") and the graph-completion audit.

    Enumeration: wedges a–m–b (a < b, both neighbors of m) via ONE
    self-join of the neighbor list on the midpoint, counted per (a, b),
    then an ANTI-join against the edge set keeps only non-adjacent
    pairs. Wedge volume is Σ_m deg(m)², the same quantity the triangle
    counters manage — on power-law graphs cap the hub contribution (the
    established max-bucket discipline) or pre-orient; the contract graph
    is nation-sized. Preferential-attachment score (deg(a)·deg(b))
    rides along — exact ints, the classic tiebreak companion. Top-k by
    (common DESC, pa DESC, a, b) total order. No floats anywhere."""
    nbrs = und.select(F.col("u").alias("m"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("m"), F.col("u").alias("n"))
    )
    left = nbrs.select(F.col("m"), F.col("n").alias("a"))
    right = nbrs.select(F.col("m"), F.col("n").alias("b"))
    wedges = (
        left.join(right, "m")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    non_adj = wedges.join(
        und, (wedges["a"] == und["u"]) & (wedges["b"] == und["v"]), "left_anti"
    )
    deg = nbrs.groupBy(F.col("m").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    scored = (
        non_adj.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a", "b", "common", (F.col("_da") * F.col("_db")).cast("long").alias("pa_score")
        )
    )
    return scored.orderBy(
        F.col("common").desc(), F.col("pa_score").desc(), F.col("a"), F.col("b")
    ).limit(k)
