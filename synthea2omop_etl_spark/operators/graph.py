"""Weighted PageRank over an edge DataFrame — graph centrality.

The reference's pathway analytics stop at first-order transition counts
(the Markov shape graded as ``priority_transitions``); a training-data
pipeline also wants a stationary importance score over such graphs —
link-graph document authority for corpus weighting, entity centrality for
sampling, state importance over event-transition graphs. This is the
standard power-iteration PageRank, expressed as K rounds of one join + one
aggregate (both keyed shuffles, AQE-planned).

Spark-first design notes:
- Transition probabilities are precomputed ONCE (edge weight / out-weight)
  and reused every round — the per-round work is a single equi-join of the
  rank vector with the probability-normalized edge list and a groupBy on
  the destination, exactly the shape Spark's shuffle-hash machinery is
  built for. Skewed hub nodes are AQE-split.
- The node count enters the plan as a broadcast 1-row aggregate
  (crossJoin), not a driver-side ``collect`` — the whole computation stays
  lazy inside each round.
- Lineage is truncated per round with ``localCheckpoint`` (the canonical
  Spark iterative-algorithm pattern, same as llm_ops/cluster.py and
  operators/hierarchy.py); with the default ``iters=5`` the loop is
  fixed-length and deterministic, which keeps the result SQL-expressible
  (the DuckDB oracle unrolls the same five rounds).
- Dangling nodes (no out-edges): the default formulation leaks their mass
  (ranks sum to < 1 but the ORDERING, what callers consume, is
  unaffected); ``redistribute=True`` is reference-grade PageRank — each
  round the dangling mass is split uniformly (one extra rank-vector-sized
  aggregate entering the plan as a broadcast 1-row scalar), so ranks sum
  to exactly 1 every round.

Scale story at 100 TB: rank state is one row per node — small relative to
the edge list, which is scanned once per round. K is fixed (default 5;
power iteration converges geometrically at rate ``damping``), so the whole
computation is K keyed shuffles over the edge list, no quadratic blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from synthea2omop_etl_spark.operators.lineage import cut_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    redistribute: bool = False,
) -> DataFrame:
    """(node, rank) for every node appearing in ``edges``.

    rank_v = (1-damping)/N + damping * sum_{u->v} rank_u * w_uv / out_w_u,
    iterated ``iters`` times from the uniform vector 1/N. Weighted when
    ``weight`` names a column; unweighted (w=1) otherwise. Deterministic
    up to float summation order.

    ``redistribute=True`` is reference-grade PageRank: each round the mass
    sitting on DANGLING nodes (no out-edges) is split uniformly across all
    nodes — rank_v gains damping * D / N where D = Σ rank over dangling
    nodes — so ranks sum to exactly 1 every round. The default (False)
    keeps the common simplified formulation that leaks dangling mass
    (ranks sum to < 1; ordering unaffected) and costs one fewer per-round
    aggregate.
    """
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    )
    out_w = e.groupBy("e_src").agg(F.sum("w").alias("out_w"))
    # Transition probabilities, computed once and reused every round.
    # MATERIALIZED once (localCheckpoint): the rank loop joins this frame
    # every round, and a lazy plan would re-derive the edge scan +
    # normalization join per iteration — K× the edge-build cost for a
    # derived edge list (e.g. a co-occurrence self-join). LAZY (r12,
    # guide §1/§2.4 — fewer jobs): the first consuming job (the node-count
    # broadcast build) materializes it; every later read hits the cache.
    probs = e.join(out_w, "e_src").select(
        "e_src", "e_dst", (F.col("w") / F.col("out_w")).alias("p")
    ).transform(cut_lineage)
    nodes = (
        probs.select(F.col("e_src").alias("node"))
        .unionByName(probs.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", "n", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    dangling = None
    if redistribute:
        # Static across rounds: nodes that never appear as a source.
        # Rank-vector-sized (small), truncated once and reused.
        dangling = nodes.join(
            probs.select(F.col("e_src").alias("node")).distinct(),
            "node",
            "left_anti",
        ).transform(cut_lineage)
    for _ in range(iters):
        contrib = (
            probs.join(
                ranks.select(F.col("node").alias("e_src"), "rank"), "e_src"
            )
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("in_mass"))
        )
        stepped = ranks.join(contrib, "node", "left")
        if redistribute:
            # Dangling mass enters the plan as a broadcast 1-row aggregate
            # (same lazy-scalar pattern as the node count) — no collect.
            d_mass = (
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d_mass")
                )
            )
            new_rank = (
                (1.0 - damping) / F.col("n")
                + damping
                * (
                    F.coalesce(F.col("in_mass"), F.lit(0.0))
                    + F.col("d_mass") / F.col("n")
                )
            )
            stepped = stepped.crossJoin(F.broadcast(d_mass))
        else:
            new_rank = (1.0 - damping) / F.col("n") + damping * F.coalesce(
                F.col("in_mass"), F.lit(0.0)
            )
        # LAZY checkpoint (r12, guide §1/§2.4 — fewer jobs): the loop is
        # fixed-length with no driver-side probe, so nothing needs the
        # round materialized eagerly. Under AQE each cut still runs the
        # round's upstream shuffle and broadcast stages when it is called,
        # and those stages compute (and persist) the previous round's
        # state; only the last round's final stage waits for the caller's
        # action. Lineage truncates per round, so the plan never
        # re-derives earlier rounds. The eager form paid one more
        # driver-paced job per round.
        ranks = stepped.select(
            "node", "n", new_rank.alias("rank")
        ).transform(cut_lineage)
    return ranks.select("node", "rank")


def pagerank_oracle_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    round_dp: int = 6,
    redistribute: bool = False,
) -> str:
    """DuckDB twin of :func:`pagerank`: the same fixed-length power
    iteration unrolled into ``iters`` chained CTEs (r0..rK), so the graded
    query needs no recursive-aggregate support. ``edges_sql`` must yield
    columns (``src``, ``dst``[, ``weight``]). ``redistribute`` mirrors the
    Spark flag: each round adds damping * (dangling mass) / n with the
    identical expression shape, so doubles agree bit-for-bit."""
    w_expr = f"CAST({weight} AS DOUBLE)" if weight else "1.0"
    parts = [
        f"WITH __edges AS ({edges_sql})",
        f"__e AS (SELECT {src} AS e_src, {dst} AS e_dst, {w_expr} AS w"
        " FROM __edges)",
        "__probs AS (SELECT e_src, e_dst, w / SUM(w) OVER (PARTITION BY"
        " e_src) AS p FROM __e)",
        "__nodes AS (SELECT DISTINCT node FROM (SELECT e_src AS node FROM"
        " __e UNION ALL SELECT e_dst FROM __e))",
        "__n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM __nodes)",
        "r0 AS (SELECT node, 1.0 / n AS rank FROM __nodes CROSS JOIN __n)",
    ]
    if redistribute:
        parts.append(
            "__dangling AS (SELECT node FROM __nodes WHERE node NOT IN"
            " (SELECT DISTINCT e_src FROM __probs))"
        )
    for i in range(1, iters + 1):
        if redistribute:
            d_mass = (
                f"(SELECT COALESCE(SUM(rank), 0.0) FROM r{i - 1}"
                " WHERE node IN (SELECT node FROM __dangling))"
            )
            rank_expr = (
                f"(1.0 - {damping}) / (SELECT n FROM __n)"
                f" + {damping} * (COALESCE(c.in_mass, 0.0)"
                f" + {d_mass} / (SELECT n FROM __n))"
            )
        else:
            rank_expr = (
                f"(1.0 - {damping}) / (SELECT n FROM __n)"
                f" + {damping} * COALESCE(c.in_mass, 0.0)"
            )
        parts.append(
            f"r{i} AS (SELECT nd.node,"
            f" {rank_expr} AS rank"
            " FROM __nodes nd LEFT JOIN"
            f" (SELECT p.e_dst AS node, SUM(r.rank * p.p) AS in_mass"
            f"  FROM __probs p JOIN r{i - 1} r ON p.e_src = r.node"
            "  GROUP BY p.e_dst) c ON c.node = nd.node)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT node, ROUND(rank, {round_dp}) AS rank FROM r{iters}"
        " ORDER BY node"
    )


def triangle_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Triangle count + global clustering coefficient over an undirected
    edge list (the cohesion read-out: how clique-like is the graph?).

    Input edges must be canonical (src < dst, deduped) — the orientation
    every triangle-counting treatment assumes, because it makes each
    triangle appear exactly once as a<b<c: e1=(a,b), e2=(b,c), e3=(a,c).
    Two equi-joins enumerate wedge-then-close; there is no DISTINCT over
    triangle tuples to dedup, so the shuffle volume is the wedge count.

    Wedges (open + closed) are Σ C(deg, 2) from one degree aggregation —
    the denominator of the global clustering coefficient 3·T / wedges.

    Scale notes: the wedge join's key is the shared endpoint, so hub
    nodes are the skew — at 100 TB you'd pre-filter to edges whose
    support clears a threshold (the caller's job; co-occurrence graphs
    do this naturally via min_support) and let AQE split the hub
    partitions. State is O(edges), never O(nodes²).

    Output (single row): n_nodes, n_edges, n_wedges, n_triangles,
    clustering (6dp; 0 when the graph has no wedges).
    """
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    basics = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return basics.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("clustering"),
    )


def bfs_distances(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Bounded-hop single-source shortest-path distances (unweighted
    BFS) over a directed edge list — the reachability twin of
    :func:`pagerank`.

    ``source`` is a literal node id, a 1-row 1-column DataFrame (e.g.
    ``edges.agg(F.min("src"))``), or ``None`` for "the minimum src of
    the (materialized) edge list" — in every form the seed enters the
    plan as a broadcast crossJoin, same as pagerank's node count, never
    a driver-side collect.

    Each hop is one equi-join of the current distance frontier with the
    edge list plus a min-groupBy — the relational Bellman-Ford step —
    with lineage truncated per hop via ``localCheckpoint`` (the
    iterative-algorithm pattern shared with llm_ops/cluster.py). The
    hop count is FIXED (``max_hops``), which keeps the result
    SQL-expressible: the DuckDB oracle unrolls the same K steps. For
    run-to-convergence semantics, callers loop on the frontier count
    instead (the connected-components treatment in llm_ops/cluster.py).

    Joining the FULL distance map each hop (not just the new frontier)
    keeps every step idempotent — re-discovered nodes collapse in the
    min-groupBy, never duplicate. At 100 TB the state is one row per
    reached node; each hop is one keyed shuffle of the edge list, and
    hub-node skew is AQE-split exactly as in pagerank.

    Output: (node, dist) for every node within ``max_hops`` of the
    source, dist ∈ [0, max_hops].
    """
    # MATERIALIZED once (localCheckpoint): every hop joins the edge list,
    # and a lazy plan would re-run the edge derivation (here typically a
    # co-occurrence self-join + support filter) once per hop — the
    # dominant cost at sf1 before round 9 (each of 4 hops re-built the
    # co-purchase pairs from scratch).
    # LAZY (r12): the first consuming action (the seed aggregate's
    # broadcast build, or hop 1's convergence count) materializes it.
    e = edges.select(
        F.col(src_col).alias("b_src"), F.col(dst_col).alias("b_dst")
    ).transform(cut_lineage)
    if source is None:
        # min-src seed derived from the MATERIALIZED edges — computing it
        # from the caller's lazy frame would re-run the edge build once
        # more just for the 1-row seed
        seed = e.agg(F.min("b_src").alias("node"))
    elif isinstance(source, DataFrame):
        seed = source.toDF("node").limit(1)
    else:
        seed = e.sparkSession.createDataFrame([(source,)], ["node"])
    dist = seed.select("node", F.lit(0).alias("dist"))
    # FRONTIER-only expansion (r12, guide §2.3 — shuffle fewer bytes):
    # hop i expands only the nodes DISCOVERED at hop i-1 (dist == i-1),
    # not the whole reached set. Sound for unweighted BFS because a node
    # u first reached at hop j < i-1 already offered dist j+1 to its
    # neighbors at hop j+1 and the min-groupBy absorbed it — re-offering
    # is pure waste. The dist map after every hop (and the early-exit
    # point) is IDENTICAL to full-map relaxation; what shrinks is the
    # join input, which previously re-emitted every edge adjacent to the
    # ENTIRE reached set each hop.
    frontier = dist
    reached = None
    for hop in range(1, max_hops + 1):
        step = (
            frontier.join(e, frontier["node"] == e["b_src"])
            .select(F.col("b_dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # LAZY (r12, guide §1/§2.4 — fewer jobs): the convergence
            # count below is the action that materializes this hop's
            # checkpoint, so each hop runs ONE job where the eager form
            # ran two (materialize, then count).
            .transform(cut_lineage)
        )
        # Early exit on convergence: min-relaxation is monotone, so a hop
        # that discovers no new node leaves every later hop a no-op — the
        # result is identical to running all max_hops (the DuckDB twin
        # unrolls all K steps and agrees for the same reason). Converged
        # graphs finish in O(diameter) rounds instead of always paying
        # max_hops.
        n = dist.count()
        if reached is not None and n == reached:
            break
        reached = n
        # a node first reached at hop i carries dist == i exactly, so the
        # next frontier is a plain scan of the materialized checkpoint
        frontier = dist.where(F.col("dist") == hop)
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def duck_bfs_distances(
    edges_sql: str, source_sql: str, max_hops: int = 4
) -> str:
    """DuckDB twin of :func:`bfs_distances`: the same fixed-length
    relax-and-min loop unrolled into ``max_hops`` chained CTEs.
    ``edges_sql`` yields (src, dst); ``source_sql`` is a scalar
    subquery/literal for the seed node."""
    parts = [
        f"WITH __e AS ({edges_sql})",
        f"d0 AS (SELECT ({source_sql}) AS node, 0 AS dist)",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"d{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1}"
            " UNION ALL"
            f" SELECT e.dst AS node, d.dist + 1 AS dist"
            f" FROM d{i - 1} d JOIN __e e ON e.src = d.node"
            ") GROUP BY node)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT node, CAST(dist AS INT) AS dist FROM d{max_hops}"
        " ORDER BY node"
    )


def duck_triangle_stats(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_stats`; ``edges_sql`` yields the
    canonical (a, b) edge list with a < b."""
    return f"""
    WITH e AS ({edges_sql}), deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY v
    ), basics AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ), tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           ROUND(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges
                      ELSE 0.0 END, 6) AS clustering
    FROM basics, tri
    """
