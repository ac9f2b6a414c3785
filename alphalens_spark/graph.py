"""Distributed graph analytics on edge-list DataFrames.

Companion to the connected-components resolver in
:mod:`alphalens_spark.scale.dedup`: where components answer "which rows
are the same thing", PageRank answers "which nodes matter" — e.g. rank
event types by their position in user journeys, rank documents in a
link/citation graph before sampling a training mix, or weight dedup
cluster representatives by centrality.

Scale posture: on a real graph the state never leaves the cluster —
each PageRank iteration is one edges⋈ranks equi-join on ``src`` plus
one groupBy on ``dst`` (both linear shuffles partitioned by node key),
dangling mass rides along as a 1-row broadcast, and a periodic
:func:`~alphalens_spark.session.checkpoint` keeps lineage bounded (the
connected-components pattern). When the REDUCED edge list is bounded
(guarded), the solve runs driver-local instead — per-iteration job
latency would otherwise dwarf the arithmetic a thousandfold; same
precedent as pca_fit's driver eigh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint, persisted

# Distributed PageRank cuts the rank lineage every third iteration, not
# every one: each eager checkpoint is a scheduled job (fixed latency
# that dominates on small graphs), while lineage only needs to stay
# bounded — at most three join-agg layers between cuts.
_PAGERANK_CHECKPOINT_EVERY = 3
# HITS cuts h every iteration. Every second iteration was measured at
# sf0.1 on purchase_hits (OPTIMIZATION_r09.md): min 1.98 s against
# 2.05 s, but it lost 2 of 3 paired runs with 0.5 s of variance, so it
# was rejected.
_HITS_CHECKPOINT_EVERY = 1


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    small_graph_edges: int = 500_000,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution —
    or, with ``personalization``, PERSONALIZED PageRank (random walk
    with restart, Jeh & Widom WWW'03).

    Uniform: ``pr_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} pr_t(u)·w(u,v)/outw(u)
    + D_t/N)`` where ``D_t`` is the rank mass sitting on dangling nodes
    (no out-edges) at step t. Personalized: every ``/N`` teleport term
    becomes ``·s(v)`` — the normalized seed distribution — and the walk
    starts at ``s`` instead of uniform, so mass concentrates around the
    seeds ("items related to X" over a co-purchase graph, trust
    propagation from a verified set). ``personalization`` carries a
    ``node`` column and an optional ``weight`` column (default 1 each);
    seeds are restricted to graph nodes and must be non-empty after the
    restriction. Fixed ``n_iter`` power iterations — deterministic, so
    both variants replay as unrolled SQL CTE chains for the value
    oracle.

    ``weight_col=None`` treats every edge as weight 1; parallel edges
    accumulate. Output: (node, pagerank), one row per distinct node
    appearing as src or dst. Σ pagerank = 1 at every step.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.cast("double").alias("w"),
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    # One shuffle has already reduced the graph to its distinct weighted
    # edge list; materialize it once — both paths read it.
    e_obs = Observation()
    e = checkpoint(e.observe(e_obs, F.count(F.lit(1)).alias("n")))

    # Small-graph fast path: when the whole graph STATE is bounded (a
    # transition graph over event types is a handful of nodes), the
    # distributed loop pays ~0.4 s of driver planning + job latency PER
    # ITERATION for microseconds of arithmetic. Solve on the driver
    # instead — the same bounded-state precedent as pca_fit's driver
    # eigh and the IVF coarse quantizer. The guard is the REDUCED edge
    # count (nodes ≤ 2·edges), so any real graph falls through to the
    # distributed loop below.
    seeds = None
    if personalization is not None:
        pw = (
            F.col("weight").cast("double")
            if "weight" in personalization.columns
            else F.lit(1.0)
        )
        # aggregate per node FIRST: duplicate seed rows must accumulate
        # (as the driver path's s[idx] += w does), not duplicate the
        # node through the tele join (review finding — dup seeds gave
        # duplicate output rows and total mass > 1)
        seeds = (
            personalization.select(F.col("node"), pw.alias("_w"))
            .groupBy("node")
            .agg(F.sum("_w").alias("_w"))
        )

    if e_obs.get["n"] == 0 and seeds is None:
        # no edges, no nodes: uniform PageRank is the empty distribution
        # (personalized PageRank still rejects its seeds below)
        return e.select(F.col("src").alias("node"), F.lit(0.0).alias("pagerank"))

    if small_graph_edges and e_obs.get["n"] <= small_graph_edges:
        # seed set is bounded by the small-graph guard itself here
        seed_rows = (
            [(r["node"], r["_w"]) for r in seeds.collect()]
            if seeds is not None
            else None
        )
        return _pagerank_driver(e, n_iter, damping, seed_rows)

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    norm = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    )
    # Iteration state lives partitioned by node; checkpoint keeps both
    # the lineage and the re-used frames (norm, nodes) from recomputing.
    norm = checkpoint(norm)
    # Folding N into the plan as a literal removes two broadcast
    # exchanges PER ITERATION — measured ~0.45 s/iteration of pure
    # broadcast/scheduling overhead on a 25-edge graph.
    n_obs = Observation()
    nodes = checkpoint(nodes.observe(n_obs, F.count(F.lit(1)).alias("n")))
    n_nodes = n_obs.get["n"]

    tele = None
    if seeds is not None:
        # restrict to graph nodes, normalize to a distribution, and pin
        # s(v) = 0 on every non-seed node; the restricted-seed total is a
        # bounded scalar (1-row agg)
        in_graph = seeds.join(nodes, "node")
        tot = in_graph.agg(F.sum("_w").alias("t")).collect()[0]["t"]
        if not tot:
            raise ValueError(
                "personalization seeds have zero total weight on this graph"
            )
        tele = nodes.join(in_graph, "node", "left").select(
            "node",
            (F.coalesce(F.col("_w"), F.lit(0.0)) / F.lit(float(tot))).alias(
                "_s"
            ),
        ).transform(checkpoint)
        ranks = tele.select("node", F.col("_s").alias("pr"))
    else:
        ranks = nodes.select(
            "node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr")
        )
    has_out = outw.select(F.col("src").alias("node")).distinct()
    # No dangling nodes (the common case for transition graphs, where
    # every type also appears as a source): D_t ≡ 0, so drop the
    # per-iteration mass aggregation + broadcast entirely.
    d_obs = Observation()
    dangling_nodes = checkpoint(
        nodes.join(has_out, "node", "left_anti")
        .observe(d_obs, F.count(F.lit(1)).alias("n"))
    )
    any_dangling = d_obs.get["n"] > 0

    for it in range(n_iter):
        contrib = (
            norm.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("_c"))
            .withColumnRenamed("dst", "node")
        )
        base = tele if tele is not None else nodes
        nxt = base.join(contrib, "node", "left")
        if any_dangling:
            dang = dangling_nodes.join(ranks, "node").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang")
            )  # 1 row
            nxt = nxt.crossJoin(F.broadcast(dang))
            dang_mass = F.col("_dang")
        else:
            dang_mass = F.lit(0.0)
        if tele is not None:
            # personalized: every /N teleport term becomes ·s(v)
            pr_expr = F.lit(1.0 - damping) * F.col("_s") + damping * (
                F.coalesce(F.col("_c"), F.lit(0.0)) + dang_mass * F.col("_s")
            )
        else:
            pr_expr = F.lit((1.0 - damping) / n_nodes) + damping * (
                F.coalesce(F.col("_c"), F.lit(0.0))
                + dang_mass / F.lit(float(n_nodes))
            )
        ranks = nxt.select("node", pr_expr.alias("pr"))
        # The FINAL iteration is deliberately NOT checkpointed: same
        # total work (the consumer's action executes it instead of the
        # constructor), and the returned frame keeps a real plan — the
        # last join/agg layer stays visible to plan audits instead of
        # collapsing to a checkpoint scan.
        if (it + 1) % _PAGERANK_CHECKPOINT_EVERY == 0 and it != n_iter - 1:
            ranks = checkpoint(ranks)
    return ranks.select("node", F.col("pr").alias("pagerank"))


def _pagerank_driver(
    e: DataFrame,
    n_iter: int,
    damping: float,
    seed_rows: list | None = None,
) -> DataFrame:
    """Driver-local power iteration over a BOUNDED reduced edge list
    (callers guard size). Identical recurrence and float64 arithmetic as
    the distributed loop (personalized when ``seed_rows`` is given);
    result returns as a small literal frame."""
    import numpy as np

    rows = e.collect()
    node_list = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    idx = {v: i for i, v in enumerate(node_list)}
    n_nodes = len(node_list)
    # edge arrays, not a dense n×n matrix: memory stays O(edges) (a
    # sparse 20k-node graph would need two 3.2 GB float64 matrices)
    src = np.fromiter((idx[r["src"]] for r in rows), dtype=np.int64, count=len(rows))
    dst = np.fromiter((idx[r["dst"]] for r in rows), dtype=np.int64, count=len(rows))
    w = np.fromiter((r["w"] for r in rows), dtype=np.float64, count=len(rows))
    out = np.bincount(src, weights=w, minlength=n_nodes)
    has_out = out > 0
    # an edge out of a zero-out-weight (dangling) node carries nothing
    p = np.divide(w, out[src], out=np.zeros_like(w), where=has_out[src])

    def spread(pr):  # Pᵀ·pr: each edge carries p·pr[src] to its dst
        return np.bincount(dst, weights=p * pr[src], minlength=n_nodes)

    if seed_rows is not None:
        s = np.zeros(n_nodes)
        for node, wgt in seed_rows:
            if node in idx:
                s[idx[node]] += wgt
        if s.sum() == 0:
            raise ValueError(
                "personalization seeds have zero total weight on this graph"
            )
        s = s / s.sum()
        pr = s.copy()
        for _ in range(n_iter):
            dang = pr[~has_out].sum()
            pr = (1.0 - damping) * s + damping * (spread(pr) + dang * s)
    else:
        pr = np.full(n_nodes, 1.0 / n_nodes)
        for _ in range(n_iter):
            dang = pr[~has_out].sum()
            pr = (1.0 - damping) / n_nodes + damping * (spread(pr) + dang / n_nodes)
    spark = e.sparkSession
    out_schema = e.select(F.col("src").alias("node")).schema.add(
        "pagerank", "double"
    )
    return spark.createDataFrame(
        [(v, float(pr[idx[v]])) for v in node_list], schema=out_schema
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    UNDIRECTED simple graph (direction and parallel edges in the input
    are collapsed; self-loops dropped).

    Algorithm is the degree-ordered orientation join (Suri & Vassilvitskii
    WWW'11 "Counting triangles and the curse of the last reducer"): every
    undirected edge is oriented from its lower-(degree, node) endpoint to
    the higher one, wedges are enumerated by joining oriented edges on
    the middle vertex, and a wedge (a→b, a→c) closes iff oriented edge
    (b→c) exists (semi-joinable equi-key). Orientation bounds each
    node's oriented out-degree by O(√m), so wedge count is O(m^{3/2})
    even with power-law hubs — the reducer that would explode on a raw
    hub join stays bounded.

    Scale shape: two groupBys (edge dedup, degrees), one broadcast-or-
    shuffle degree join, one wedge equi-join on the pivot key, one
    closing equi-join on (lo, hi), one explode-by-3 + final node groupBy
    — all linear shuffles except the wedge join, which the orientation
    bounds. No all-pairs stage anywhere.

    Output: (node, degree, triangles, clustering) where clustering =
    2·triangles / (degree·(degree−1)) (0.0 for degree < 2).
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = checkpoint(und)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orient u—v from the (degree, node) smaller endpoint to the larger:
    # total order, so every triangle appears as exactly one wedge with a
    # closing edge. Node id breaks degree ties deterministically.
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("_dv"))
    ranked = und.join(du, "u").join(dv, "v")
    fwd = F.struct("_du", "u") < F.struct("_dv", "v")
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(fwd, F.col("_dv")).otherwise(F.col("_du")).alias("hi_deg"),
    )
    oriented = checkpoint(oriented)
    # Wedges pivoted at `lo`: (lo→b, lo→c) with b before c in the SAME
    # (degree, node) total order the orientation used — a canonical
    # candidate per unordered pair, and the closing edge between b and c
    # can then ONLY be oriented b→c, so one equi-join closes it.
    e1 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"),
        F.col("hi_deg").alias("_bd"),
    )
    e2 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"),
        F.col("hi_deg").alias("_cd"),
    )
    wedges = (
        e1.join(e2, "a")
        .where(F.struct("_bd", "b") < F.struct("_cd", "c"))
        .select("a", "b", "c")
    )
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """k-core of an undirected simple graph: the maximal subgraph in
    which every node has degree ≥ k, found by the standard peeling
    fixpoint (repeatedly delete nodes of degree < k; the survivor set
    is unique, so the result is iteration-order independent and
    oracle-replayable round by round).

    Output: (node, degree) for surviving nodes, degree measured INSIDE
    the k-core. Empty result when the graph has no k-core.

    Scale shape: each round is one degree groupBy + two anti-joins
    keyed on node (all linear shuffles). TWO peel rounds run per eager
    materialization (round-8: per-round job-barrier latency, not data
    volume, dominates this class at bench SF), and the block's edge
    count is observed on that checkpoint job — the fixpoint check runs
    no job of its own. Peeling is monotone, so an unchanged edge count
    after a block means BOTH rounds were no-ops and the block's first
    degree frame is the fixpoint. Peeling removes ≥1 node per
    non-final round, but in practice converges in a handful of rounds —
    ``max_rounds`` is a runaway guard, and hitting it raises rather
    than returning a non-core.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    obs = Observation()
    e = checkpoint(e.observe(obs, F.count(F.lit(1)).alias("n")))
    n_edges = obs.get["n"]

    def _deg(frame: DataFrame) -> DataFrame:
        return (
            frame.select(F.col("u").alias("node"))
            .union(frame.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    rounds = 0
    while rounds < max_rounds:
        if n_edges == 0:
            break
        cur, deg0 = e, None
        for _ in range(min(2, max_rounds - rounds)):
            deg = _deg(cur)
            if deg0 is None:
                deg0 = deg
            # peel via ANTI-join on the DROPPED set, not semi-join on
            # the survivors: the peeled set is the small side (a handful
            # of sub-k nodes per round vs nearly all of |V| surviving),
            # so AQE broadcasts it and neither anti-join shuffles the
            # edge list — the degree groupBy is the round's only
            # |E|-sized shuffle. Identical semantics: every endpoint is
            # in deg, so NOT-in-drop ≡ in-keep.
            drop = deg.where(F.col("degree") < k).select("node")
            cur = (
                cur.join(drop.withColumnRenamed("node", "u"), "u", "left_anti")
                .join(drop.withColumnRenamed("node", "v"), "v", "left_anti")
                .select("u", "v")
            )
            rounds += 1
        obs = Observation()
        e2 = checkpoint(cur.observe(obs, F.count(F.lit(1)).alias("n")))
        n2 = obs.get["n"]
        if n2 == n_edges:
            # monotone peel: an unchanged count across the whole block
            # means its first round already removed nothing, so deg0
            # (degrees over the incoming edge set) is the fixpoint
            return deg0.where(F.col("degree") >= k)
        e, n_edges = e2, n2
    if n_edges == 0:
        return e.sparkSession.createDataFrame(
            [], "node " + dict(edges.dtypes)[src_col] + ", degree long"
        )
    # exhausted max_rounds without an unchanged-count block: the 2-round
    # blocks can consume the budget one round PAST convergence (round C
    # removes edges, round C+1 is the no-op — the block's count still
    # changed, so detection needs the NEXT block). One bounded check
    # distinguishes that from genuine non-convergence, so a caller-tight
    # max_rounds that sufficed for the 1-round form still returns the
    # core instead of raising (round-8 review finding).
    deg = _deg(e)
    if deg.where(F.col("degree") < k).limit(1).count() == 0:
        return deg.where(F.col("degree") >= k)
    raise RuntimeError(f"k_core did not converge within {max_rounds} rounds")


def k_core_sql(edges_cte: str, k: int, n_rounds: int = 16) -> str:
    """Unrolled-CTE SQL twin of :func:`k_core` for DuckDB oracles:
    ``n_rounds`` peel rounds (must be ≥ the convergence round count of
    the target graph — peeling is monotone, so extra rounds are
    no-ops). ``edges_cte`` must produce (src, dst)."""
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM eraw WHERE src <> dst)",
    ]
    for i in range(n_rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS degree FROM "
            f"(SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}) "
            f"GROUP BY 1)"
        )
        parts.append(
            f"k{i} AS MATERIALIZED "
            f"(SELECT node FROM d{i} WHERE degree >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT u, v FROM e{i} "
            f"WHERE u IN (SELECT node FROM k{i}) "
            f"AND v IN (SELECT node FROM k{i}))"
        )
    n = n_rounds
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, degree FROM (SELECT node, count(*) AS degree FROM "
        f"(SELECT u AS node FROM e{n} UNION ALL SELECT v FROM e{n}) "
        f"GROUP BY 1) WHERE degree >= {k}"
    )


def pagerank_sql(
    edges_cte: str,
    n_iter: int = 10,
    damping: float = 0.85,
    round_dp: int = 6,
    sources_cte: str | None = None,
) -> str:
    """Unrolled-CTE SQL twin of :func:`pagerank` for DuckDB oracles.

    ``edges_cte`` must be a SELECT producing (src, dst, w). With
    ``sources_cte`` (a SELECT producing (node, weight)) the chain
    replays the PERSONALIZED variant: teleport and dangling mass land
    on the normalized seed distribution instead of 1/N, starting from
    the seeds. Returns a full query emitting (node, pagerank) after
    ``n_iter`` iterations — textbook power iteration written as chained
    CTEs, one pair per step.
    """
    if sources_cte is not None:
        return _ppr_sql(edges_cte, sources_cte, n_iter, damping, round_dp)
    d = damping
    # Every CTE is AS MATERIALIZED: r{i} is referenced twice per step
    # (dangling mass + contributions), so default inlining would expand
    # the tree 2^n_iter-fold — the exact planner blowup the round-3
    # panel-CTE fix documented. Materialization keeps planning linear.
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "e0 AS MATERIALIZED (SELECT src, dst, sum(w) AS w FROM eraw GROUP BY 1, 2)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e0 UNION SELECT dst FROM e0))",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS outw FROM e0 GROUP BY 1)",
        "e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w / outw.outw AS p "
        "FROM e0 JOIN outw ON e0.src = outw.src)",
        "dn AS MATERIALIZED (SELECT node FROM nodes nd WHERE NOT EXISTS "
        "(SELECT 1 FROM e0 WHERE e0.src = nd.node))",
        "r0 AS MATERIALIZED "
        "(SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS m "
            f"FROM r{i} WHERE node IN (SELECT node FROM dn))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node, sum(r.pr * e.p) AS c "
            f"FROM e JOIN r{i} r ON e.src = r.node GROUP BY 1)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT n.node, "
            f"(1.0 - {d}) / (SELECT n FROM nn) + {d} * ("
            f"coalesce(c.c, 0.0) + (SELECT m FROM d{i}) / (SELECT n FROM nn)"
            f") AS pr FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(pr, {round_dp}) AS pagerank FROM r{n_iter}"
    )


def _ppr_sql(
    edges_cte: str,
    sources_cte: str,
    n_iter: int,
    damping: float,
    round_dp: int,
) -> str:
    """The personalized unrolled chain behind pagerank_sql(sources_cte=…):
    identical edge/node/dangling scaffolding, with teleport mass landing
    on the normalized seed distribution ``tele.s`` and the walk starting
    at the seeds — matching :func:`pagerank`'s personalized expressions
    term for term."""
    d = damping
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "e0 AS MATERIALIZED (SELECT src, dst, sum(w) AS w FROM eraw GROUP BY 1, 2)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e0 UNION SELECT dst FROM e0))",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS outw FROM e0 GROUP BY 1)",
        "e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w / outw.outw AS p "
        "FROM e0 JOIN outw ON e0.src = outw.src)",
        "dn AS MATERIALIZED (SELECT node FROM nodes nd WHERE NOT EXISTS "
        "(SELECT 1 FROM e0 WHERE e0.src = nd.node))",
        f"s0 AS MATERIALIZED (SELECT s.node, "
        f"sum(CAST(s.weight AS DOUBLE)) AS w "
        f"FROM ({sources_cte}) s WHERE EXISTS "
        f"(SELECT 1 FROM nodes n WHERE n.node = s.node) GROUP BY 1)",
        "st AS MATERIALIZED (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM s0)",
        "tele AS MATERIALIZED (SELECT n.node, "
        "coalesce(s.w, 0.0) / (SELECT tw FROM st) AS s "
        "FROM nodes n LEFT JOIN s0 s ON n.node = s.node)",
        "r0 AS MATERIALIZED (SELECT node, s AS pr FROM tele)",
    ]
    for i in range(n_iter):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS m "
            f"FROM r{i} WHERE node IN (SELECT node FROM dn))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node, sum(r.pr * e.p) AS c "
            f"FROM e JOIN r{i} r ON e.src = r.node GROUP BY 1)"
        )
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT t.node, "
            f"(1.0 - {d}) * t.s + {d} * ("
            f"coalesce(c.c, 0.0) + (SELECT m FROM d{i}) * t.s"
            f") AS pr FROM tele t LEFT JOIN c{i} c ON t.node = c.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(pr, {round_dp}) AS pagerank FROM r{n_iter}"
    )


def _fits_broadcast(
    n_rows: int, fields: int | DataFrame, max_bytes: int
) -> bool:
    """Estimated-bytes broadcast budget: ``n_rows`` rows of the frame
    ``fields``, each field priced at Catalyst's ``defaultSize`` for its
    type (8 B for a long or double, 20 B for a string), plus 16 B of row
    overhead, against ``max_bytes``. An int ``fields`` counts 8-byte
    fields.

    Row-count thresholds ("broadcast below 2M nodes") silently scale
    with row WIDTH; a bytes budget is what the executor actually pays
    (VERDICT r08 item 10). The default 64 MiB budget puts the cutoff
    for two 8-byte fields at 2,097,152 rows — the historic 2M-row
    threshold. String node ids widen the row, so their cutoff is lower.
    """
    if isinstance(fields, int):
        row_bytes = 8 * fields
    else:
        row_bytes = fields._jdf.schema().defaultSize()
    return n_rows * (row_bytes + 16) <= max_bytes


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007; the GraphFrames/Pregel LPA): every node starts labeled
    with its own id, and each round adopts the label carrying the most
    neighbor mass (edge count, or ``weight_col`` sum), ties broken
    toward the SMALLEST label — a total order, so each round is a pure
    function of the previous labeling and the result is deterministic
    and oracle-replayable round by round. Synchronous updates can
    oscillate on bipartite-ish structures, which is why LPA is
    specified as fixed-``n_iter`` (GraphFrames does the same) rather
    than run to a fixpoint that may not exist.

    Output: (node, label) after ``n_iter`` rounds; equal labels =
    same community. Every vertex of the input edge list appears in the
    output — a node whose only edges are self-loops takes no part in
    propagation and keeps its own id as its label (GraphFrames LPA
    parity).

    Scale shape (the HITS broadcast discipline, round-8): the static
    2|E| neighbor list is hash-partitioned ONCE and cached for the
    call (:func:`~alphalens_spark.session.persisted`); when
    the estimated (node, label) frame fits ``broadcast_max_bytes`` (see
    :func:`_fits_broadcast`) it is partitioned by the
    GROUPING key ``node`` and each round is one ZERO-shuffle stage —
    in-memory edge scan + broadcast label lookup + two aggregations
    already clustered by their key (HashPartitioning(node) satisfies
    both the (node, label) mass groupBy and the per-node argmax).
    On graphs whose label vector outgrows the broadcast budget the
    neighbor list is partitioned by the JOIN key ``nbr`` instead and
    each round shuffle-joins only the |V|-sized label frame plus two
    linear groupBys — never the edge list. Labels are cut with
    :func:`~alphalens_spark.session.checkpoint` every second round so
    lineage stays flat, and the result is checkpointed before the
    caches are freed.
    """
    canon = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        *([F.col(weight_col).cast("double").alias("w")] if weight_col else []),
    ).where(F.col("u") != F.col("v"))
    if weight_col is None:
        # unweighted = SIMPLE graph: duplicate edge rows carry no extra
        # vote (integer unit mass also keeps the argmax exact cross-engine)
        e = canon.distinct().withColumn("w", F.lit(1).cast("long"))
    else:
        # collapsed edge weights snap to the 6-dp grid: float sums that
        # are mathematically tied differ by an ulp across engines /
        # summation orders, and an ulp here flips the adopted LABEL —
        # the rank_normalize / _avg_rank tie-grid rule applied to masses
        e = canon.groupBy("u", "v").agg(F.round(F.sum("w"), 6).alias("w"))
    # both edge directions, read by the node set and the neighbor list:
    # one job fills both caches, so the edge canonicalization runs once
    # (round-9 A/B: q_copurchase_communities 1.42 -> 1.17 s at sf0.1)
    both = e.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), "w"
    ).unionByName(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "w")
    )
    nodes = both.select("node").distinct()
    # self-loop-only vertices: present in the input edge list but absent
    # from nbrs (self-loops are dropped before propagation); they keep
    # their own id as label, matching GraphFrames LPA's every-vertex
    # output. A vertex can only be missing from nbrs if ALL its edges
    # are self-loops, so the candidate set is the (tiny) self-loop node
    # list — one filtered scan + distinct + left_anti, not a distinct
    # over the full vertex set.
    isolated = (
        edges.where(F.col(src_col) == F.col(dst_col))
        .select(F.col(src_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_anti")
    )
    # the node count is the bounded scalar the broadcast choice needs
    # (the hits/pagerank n_nodes contract), observed on the fill job
    with persisted(both, nodes) as (_, n_nodes):
        lab = nodes.select("node", F.col("node").alias("label"))
        broadcast_labels = _fits_broadcast(n_nodes, lab, broadcast_max_bytes)
        # hash-partition the (big, static) neighbor list ONCE and cache
        # it. Broadcast mode partitions by the GROUPING key so both
        # per-round aggregations run exchange-free on top of the
        # broadcast-hash label join; shuffle mode partitions by the JOIN
        # key so only the |V|-sized label frame moves per round.
        nbrs = both.repartition(
            F.col("node") if broadcast_labels else F.col("nbr")
        )
        bc = F.broadcast if broadcast_labels else (lambda df: df)
        with persisted(nbrs):
            for it in range(n_iter):
                mass = (
                    nbrs.join(
                        bc(lab.select(F.col("node").alias("nbr"), "label")),
                        "nbr",
                    )
                    .groupBy("node", "label")
                    # 6-dp mass snap (no-op long when unweighted): ties
                    # break on the label, never on summation-order ulps
                    .agg(F.round(F.sum("w"), 6).alias("m"))
                )
                # argmax by (mass desc, label asc) as ONE min-struct
                # aggregate — deterministic tiebreak, no window
                best = F.min(F.struct((-F.col("m")).alias("nm"), F.col("label")))
                lab = mass.groupBy("node").agg(best.alias("s")).select(
                    "node", F.col("s.label").alias("label")
                )
                # checkpoint every SECOND round (eager per-round cuts
                # cost ~0.35 s of the 4-round sf0.1 bench entry in job
                # barriers). The final round is cut with the isolated
                # vertices: the result must not read the freed caches
                if it != n_iter - 1 and it % 2 == 1:
                    lab = checkpoint(lab)
            return checkpoint(
                lab.unionByName(
                    isolated.select("node", F.col("node").alias("label"))
                )
            )


def label_propagation_sql(
    edges_cte: str, n_iter: int = 5, weighted: bool = False
) -> str:
    """Unrolled-CTE SQL twin of :func:`label_propagation` for DuckDB
    oracles: one (mass, argmax) CTE pair per round, every CTE
    MATERIALIZED (l{i} is referenced once per round but the chain
    depth makes default inlining re-derive everything — the pagerank
    oracle lesson). ``edges_cte`` must produce (src, dst[, w])."""
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        (
            # 6-dp weight/mass snap mirrors the Spark path: float-sum
            # ties must break on the label, not summation-order ulps
            "ec AS MATERIALIZED (SELECT least(src, dst) AS u, "
            "greatest(src, dst) AS v, round(sum(w), 6) AS w "
            "FROM eraw WHERE src <> dst GROUP BY 1, 2)"
            if weighted
            else "ec AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
            "greatest(src, dst) AS v, 1 AS w FROM eraw WHERE src <> dst)"
        ),
        "nbrs AS MATERIALIZED (SELECT u AS node, v AS nbr, w FROM ec "
        "UNION ALL SELECT v, u, w FROM ec)",
        "l0 AS MATERIALIZED "
        "(SELECT DISTINCT node, node AS label FROM nbrs)",
        # self-loop-only vertices keep their own id (GraphFrames parity)
        "alln AS MATERIALIZED (SELECT DISTINCT src AS node FROM eraw "
        "UNION SELECT DISTINCT dst FROM eraw)",
    ]
    mass_expr = "round(sum(n.w), 6)" if weighted else "sum(n.w)"
    for i in range(n_iter):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT n.node, l.label, {mass_expr} AS m "
            f"FROM nbrs n JOIN l{i} l ON n.nbr = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i + 1} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER "
            f"(PARTITION BY node ORDER BY m DESC, label ASC) AS rn "
            f"FROM m{i}) WHERE rn = 1)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\nSELECT node, label FROM l{n_iter} "
        "UNION ALL SELECT node, node AS label FROM alln "
        "WHERE NOT EXISTS (SELECT 1 FROM l0 WHERE l0.node = alln.node)"
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected simple graph —
    the reachability/centrality primitive the family still lacked next
    to PageRank (importance), k-core (cohesion), triangles (clustering)
    and label propagation (communities): "how many hops is every node
    from this seed set" powers ego-network feature engineering,
    recall-set expansion around known-good items, and blast-radius
    analysis from a flagged entity.

    ``sources`` carries one column ``node``. Output: (node, dist int)
    for every node within ``max_depth`` hops, dist = exact hop count
    (sources themselves at 0). BFS frontier expansion is
    iteration-order independent, so the result is unique and the
    unrolled-CTE oracle (:func:`bfs_sql`) replays it round by round.

    Scale shape (the k-core discipline): each round is ONE
    frontier⋈edges node-key equi-join + a distinct + an anti-join
    against the visited set (all linear, node-keyed shuffles — the
    frontier is the small side and AQE broadcasts it on real graphs).
    TWO expansion rounds run per eager materialization (two joins of
    lineage is well inside planner comfort; round-8 measured the
    per-round job barrier, not data volume, dominating this class at
    bench SF — the LPA checkpoint-cadence lesson). The block's row
    count and deepest layer are observed on its checkpoint job, so the
    emptiness / deepest-layer check runs no job of its own. Early stop
    when a block comes back empty or its deepest layer produced no
    nodes.
    """
    # ONE build exchange (the repartition; hash(v) ⊆ (u, v) satisfies the
    # distinct's clustering), cached for the call so every round sees
    # hash(v): with the small frontier broadcast, the layer distinct runs
    # exchange-free. The result (checkpointed blocks) reads no cache.
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("u"), F.col(src_col).alias("v")
            ).where(F.col("u") != F.col("v"))
        )
        .repartition(F.col("v"))
        .distinct()
    )
    with persisted(e):
        visited = (
            # non-null node contract, mirrored in bfs_sql's v0: NULL seeds
            # are unreachable by definition (edge endpoints are non-null —
            # the u != v filter drops NULL-endpoint rows) and would poison
            # the SQL twin's visited-set subquery (round-8 ADVICE finding)
            sources.select(F.col("node"), F.lit(0).cast("int").alias("dist"))
            .where(F.col("node").isNotNull())
            .distinct()
            .transform(checkpoint)
        )
        frontier = visited.select("node")
        d = 0
        while d < max_depth:
            step = min(2, max_depth - d)
            fr, vis, layers = frontier, visited, []
            for i in range(1, step + 1):
                nbrs = (
                    fr.join(e, fr["node"] == e["u"])
                    .select(F.col("v").alias("node"))
                    .distinct()
                )
                layer = nbrs.join(vis, "node", "left_anti").withColumn(
                    "dist", F.lit(d + i).cast("int")
                )
                layers.append(layer)
                # lineage-only union: the second expansion must exclude the
                # first's nodes too; materialization happens once per block
                vis = vis.unionByName(layer)
                fr = layer.select("node")
            new = layers[0]
            for extra in layers[1:]:
                new = new.unionByName(extra)
            obs = Observation()
            new = checkpoint(
                new.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.max("dist").alias("md"),
                )
            )
            stats = obs.get
            if stats["n"] == 0:
                break
            # visited is a flat union of already-checkpointed blocks, so
            # its lineage never deepens past one union per block — a second
            # checkpoint here is a pure job barrier
            visited = visited.unionByName(new)
            if stats["md"] < d + step:
                break  # the deepest layer is empty — no frontier remains
            frontier = new.where(F.col("dist") == d + step).select("node")
            d += step
        return visited


def bfs_sql(edges_cte: str, sources_cte: str, n_rounds: int = 8) -> str:
    """Unrolled-CTE SQL twin of :func:`bfs_distances` for DuckDB
    oracles: ``n_rounds`` frontier expansions (extra rounds past
    convergence are no-ops — an exhausted frontier stays empty).
    ``edges_cte`` must produce (src, dst); ``sources_cte`` one column
    ``node``."""
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "eb AS MATERIALIZED (SELECT src AS u, dst AS v FROM eraw "
        "WHERE src <> dst UNION SELECT dst, src FROM eraw "
        "WHERE src <> dst)",
        # node IS NOT NULL: a single NULL in the visited set would make
        # every later "NOT IN" three-valued-NULL and silently empty all
        # frontiers (round-8 ADVICE finding); the Spark twin's left_anti
        # join matches NULLs, so the SQL twin enforces the same non-null
        # node contract explicitly (eb already drops NULL-endpoint edges
        # via the src <> dst comparison).
        f"v0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS INT) AS dist "
        f"FROM ({sources_cte}) WHERE node IS NOT NULL)",
        "f0 AS MATERIALIZED (SELECT node FROM v0)",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT DISTINCT e.v AS node, "
            f"CAST({i} AS INT) AS dist "
            f"FROM f{i - 1} f JOIN eb e ON f.node = e.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM v{i - 1} p "
            f"WHERE p.node = e.v))"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT node, dist FROM v{i - 1} "
            f"UNION ALL SELECT node, dist FROM w{i})"
        )
        parts.append(f"f{i} AS MATERIALIZED (SELECT node FROM w{i})")
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, dist FROM v{n_rounds}"


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 8,
) -> DataFrame:
    """Hop-bounded weighted shortest paths (synchronous Bellman-Ford
    rounds) over an undirected graph with NON-NEGATIVE INTEGER weights
    — the weighted sibling of :func:`bfs_distances`: "how strongly is
    every item connected to this seed set" when edges carry a distance
    (e.g. an affinity-derived cost), the primitive behind
    related-item expansion rails and taint propagation with decay.

    Semantics: ``dist(v)`` = the minimum total weight over paths of AT
    MOST ``max_hops`` edges (sources at 0). The hop bound makes the
    result well-defined and oracle-replayable without a convergence
    proof — round k's map is exactly the k-hop relaxation of round
    k−1's (Bellman-Ford is monotone, so extra rounds past convergence
    are no-ops), and integer weights make every value exact.

    Scale shape: each round is ONE dist⋈edges node-key equi-join + one
    min groupBy (both linear, node-keyed shuffles). TWO relaxation
    rounds run per eager materialization (round-8: job-barrier latency,
    not data volume, dominates this class at bench SF; two joins + two
    aggs of lineage stay well inside planner comfort); early stop when
    a block leaves every distance unchanged. Relaxation only adds nodes
    and lowers (or sets NULL) distances, so "unchanged" is equal
    (rows, non-NULL dists, Σ dist) observed on consecutive checkpoints.

    Output: (node, dist long) for every node reachable within
    ``max_hops``.
    """
    e = (
        edges.select(
            F.col(src_col).alias("u"),
            F.col(dst_col).alias("v"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("u"),
                F.col(src_col).alias("v"),
                F.col(weight_col).cast("long").alias("w"),
            ).where(F.col("u") != F.col("v"))
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .transform(checkpoint)
    )
    block_stats = (
        F.count(F.lit(1)).alias("n"),
        F.count("dist").alias("nd"),
        F.sum("dist").alias("sd"),
    )
    obs = Observation()
    dist = checkpoint(
        sources.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
        .observe(obs, *block_stats)
    )
    stats = obs.get
    hops = 0
    while hops < max_hops:
        step = min(2, max_hops - hops)
        cur = dist
        for _ in range(step):
            relaxed = cur.join(e, cur["node"] == e["u"]).select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            cur = (
                cur.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
        obs = Observation()
        dist = checkpoint(cur.observe(obs, *block_stats))
        hops += step
        prev, stats = stats, obs.get
        if stats == prev:
            break
    return dist


def sssp_sql(
    edges_cte: str, sources_cte: str, n_rounds: int = 8
) -> str:
    """Unrolled-CTE SQL twin of :func:`sssp_distances` for DuckDB
    oracles. ``edges_cte`` must produce (src, dst, weight) with
    non-negative integer weights; ``sources_cte`` one column ``node``.
    Extra rounds past convergence are no-ops (monotone relaxation)."""
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "eb AS MATERIALIZED (SELECT u, v, CAST(min(w) AS BIGINT) AS w FROM ("
        "SELECT src AS u, dst AS v, weight AS w FROM eraw WHERE src <> dst "
        "UNION ALL SELECT dst, src, weight FROM eraw WHERE src <> dst"
        ") GROUP BY 1, 2)",
        f"d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist "
        f"FROM (SELECT DISTINCT node FROM ({sources_cte})))",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1} "
            f"UNION ALL "
            f"SELECT e.v AS node, d.dist + e.w AS dist "
            f"FROM d{i - 1} d JOIN eb e ON d.node = e.u"
            f") GROUP BY 1)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, dist FROM d{n_rounds}"


def hits(
    edges: DataFrame,
    n_iter: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    renorm_every: int = 8,
    broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg JACM'99) over a DIRECTED
    edge list — the ranking that separates the two sides PageRank
    conflates: a node is a good *hub* when it points at good
    authorities, a good *authority* when good hubs point at it. On a
    bipartite interaction graph (customer→part, user→document,
    query→clicked-url) the split is exactly "broad high-quality
    curators" vs "items curators converge on" — the curation signal a
    training-mix builder wants next to raw popularity (reference has no
    graph surface; SURVEY §2 extension).

    Mutual recursion from h₀ = 1: a ← Aᵀh, h ← A·a, n_iter synchronous
    rounds, L1-normalized ONCE at the output (deterministic, so the
    whole computation replays as :func:`hits_sql`'s unrolled CTE
    chain). Per-step normalization only rescales — the direction is
    invariant — so the loop iterates UNNORMALIZED and pays zero
    normalizer aggregates per iteration (measured: the per-half-step
    1-row broadcast form cost 8.6 s at sf0.1 for 4 iterations on the
    purchase graph; this form 4.7 s). ``renorm_every`` guards overflow
    on long runs / heavy graphs: values grow ~(avg_deg²)^iter, so an
    occasional L1 rescale (one 1-row broadcast) keeps magnitudes
    bounded without changing the result — the rescale divides through
    exactly like the final normalization. Nodes with no out-edges rank
    hub 0, no in-edges authority 0.

    Scale shape (the pagerank discipline, round-8 hardened): the edge
    list is cached TWICE for the call, hash-partitioned by src and by
    dst (:func:`~alphalens_spark.session.persisted`: a cached frame
    keeps its outputPartitioning, a checkpointed one does not under
    AQE — the LPA lesson), so the static 2|E| rows are shuffled
    exactly twice up front and never again; every half-step then joins
    the |V|-sized score frame and aggregates on the endpoint its edge
    copy is already partitioned by. When the estimated (node, score)
    frame fits ``broadcast_max_bytes`` (see :func:`_fits_broadcast`;
    the matrix-vector-product regime), each half-step is a single
    ZERO-shuffle stage: in-memory edge scan + broadcast hash lookup +
    partial-agg-free final aggregation. On graphs whose score vector
    outgrows the broadcast budget the score frame is shuffle-joined
    instead (still no edge shuffle). Lineage is cut with
    :func:`~alphalens_spark.session.checkpoint` after every iteration
    (h only — the iteration's a is re-derived lazily from the
    checkpointed h where needed); the result is checkpointed before the
    caches are freed. Output: (node, hub, authority), one row per
    distinct endpoint.
    """
    if n_iter < 1:
        raise ValueError("hits requires n_iter >= 1")
    # one exchange for distinct+src-partitioning (HashPartitioning(src)
    # satisfies the (src, dst) clustering dropDuplicates needs), one
    # more for the dst-partitioned copy of the in-memory rows
    e_src = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .repartition(F.col("src"))
        .dropDuplicates(["src", "dst"])
    )
    e_dst = e_src.repartition(F.col("dst"))
    nodes = (
        e_src.select(F.col("src").alias("node"))
        .union(e_src.select(F.col("dst").alias("node")))
        .distinct()
    )
    # ONE fill job for all three caches (e_dst and nodes read e_src's;
    # round-9 A/B of one fill for both edge copies: q_purchase_hits
    # 2.25 -> 2.05 s at sf0.1), which also observes the node count
    with persisted(e_src, e_dst, nodes) as (_, _, n_nodes):
        h = nodes.select("node", F.lit(1.0).alias("h"))
        broadcast_scores = _fits_broadcast(n_nodes, h, broadcast_max_bytes)
        bc = F.broadcast if broadcast_scores else (lambda df: df)
        # a-step joins scores on src and groups by dst; h-step the
        # reverse. Broadcast mode uses the copy partitioned by the
        # GROUPING key so the aggregation needs no exchange; shuffle mode
        # uses the copy partitioned by the JOIN key so only the score
        # frame moves.
        e_for_a = e_dst if broadcast_scores else e_src
        e_for_h = e_src if broadcast_scores else e_dst
        a = None
        for it in range(n_iter):
            a = (
                e_for_a.join(bc(h.withColumnRenamed("node", "src")), "src")
                .groupBy("dst")
                .agg(F.sum("h").alias("a"))
                .withColumnRenamed("dst", "node")
            )
            h = (
                e_for_h.join(bc(a.withColumnRenamed("node", "dst")), "dst")
                .groupBy("src")
                .agg(F.sum("a").alias("h"))
                .withColumnRenamed("src", "node")
            )
            if (it + 1) % renorm_every == 0 and it != n_iter - 1:
                sh = h.agg(F.sum("h").alias("_s"))  # 1 row, overflow guard
                h = h.crossJoin(F.broadcast(sh)).select(
                    "node", (F.col("h") / F.col("_s")).alias("h")
                )
            if (it + 1) % _HITS_CHECKPOINT_EVERY == 0 and it != n_iter - 1:
                h = checkpoint(h)
        sh = h.agg(F.sum("h").alias("_sh"))  # 1 row
        sa = a.agg(F.sum("a").alias("_sa"))  # 1 row

        def l1(c: str, total: str):
            s = F.round(F.coalesce(F.col(c) / F.col(total), F.lit(0.0)), 6)
            return s + F.lit(0.0)

        # cut before the caches are freed: the result reads them
        return checkpoint(
            nodes.join(bc(h), "node", "left")
            .join(bc(a), "node", "left")
            .crossJoin(F.broadcast(sh))
            .crossJoin(F.broadcast(sa))
            .select(
                "node", l1("h", "_sh").alias("hub"), l1("a", "_sa").alias("authority")
            )
        )


def hits_sql(
    edges_cte: str,
    n_iter: int = 6,
    round_dp: int = 6,
    renorm_every: int = 8,
) -> str:
    """Unrolled-CTE SQL twin of :func:`hits` for DuckDB oracles —
    identical unnormalized half-steps, the same ``renorm_every``
    overflow rescales, and one final L1 normalization, so the chain
    replays the Spark arithmetic term for term. ``edges_cte`` must
    produce (src, dst). Every CTE is AS MATERIALIZED (the last score
    frames are referenced twice — normalizer + output join — so
    default inlining would expand the tree, the round-3 planner-blowup
    lesson)."""
    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_cte})",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw "
        "WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e))",
        "h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT e.dst AS node, sum(h.h) AS a "
            f"FROM e JOIN h{i} h ON e.src = h.node GROUP BY 1)"
        )
        if (i + 1) % renorm_every == 0 and i != n_iter - 1:
            parts.append(
                f"hu{i + 1} AS MATERIALIZED (SELECT e.src AS node, "
                f"sum(a.a) AS h "
                f"FROM e JOIN a{i + 1} a ON e.dst = a.node GROUP BY 1)"
            )
            parts.append(
                f"h{i + 1} AS MATERIALIZED (SELECT node, "
                f"h / (SELECT sum(h) FROM hu{i + 1}) AS h FROM hu{i + 1})"
            )
        else:
            parts.append(
                f"h{i + 1} AS MATERIALIZED (SELECT e.src AS node, "
                f"sum(a.a) AS h "
                f"FROM e JOIN a{i + 1} a ON e.dst = a.node GROUP BY 1)"
            )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT n.node, "
        f"round(coalesce(h.h / (SELECT sum(h) FROM h{n_iter}), 0.0), "
        f"{round_dp}) + 0.0 AS hub, "
        f"round(coalesce(a.a / (SELECT sum(a) FROM a{n_iter}), 0.0), "
        f"{round_dp}) + 0.0 AS authority\n"
        f"FROM nodes n LEFT JOIN h{n_iter} h ON n.node = h.node "
        f"LEFT JOIN a{n_iter} a ON n.node = a.node"
    )
