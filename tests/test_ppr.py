"""Personalized PageRank: numpy-reference parity, probability-mass and
locality properties, driver/distributed path equality, SQL twin."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from alphalens_spark.graph import pagerank, pagerank_sql

EDGES = [
    ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("c", "d", 1.0),
    ("d", "e", 1.0),
    # disconnected pair the seed cannot reach
    ("x", "y", 1.0), ("y", "x", 1.0),
]
N_ITER = 8
D = 0.85


def _numpy_ppr(edges, seeds, n_iter, d):
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for u, v, w in edges:
        W[idx[u], idx[v]] += w
    out = W.sum(axis=1)
    has_out = out > 0
    P = np.divide(W, out[:, None], out=np.zeros_like(W), where=has_out[:, None])
    s = np.zeros(n)
    for node, w in seeds:
        s[idx[node]] += w
    s = s / s.sum()
    pr = s.copy()
    for _ in range(n_iter):
        dang = pr[~has_out].sum()
        pr = (1 - d) * s + d * (P.T @ pr + dang * s)
    return {v: round(float(pr[idx[v]]), 6) for v in nodes}


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, weight double")


def _run(spark, edges_df, seeds, **kw):
    sdf = spark.createDataFrame(seeds, "node string, weight double")
    return {
        r["node"]: round(r["pagerank"], 6)
        for r in pagerank(
            edges_df, n_iter=N_ITER, weight_col="weight",
            personalization=sdf, **kw
        ).collect()
    }


def test_ppr_matches_numpy_both_paths(spark, edges_df):
    seeds = [("a", 1.0)]
    want = _numpy_ppr(EDGES, seeds, N_ITER, D)
    fast = _run(spark, edges_df, seeds)  # small graph -> driver path
    dist = _run(spark, edges_df, seeds, small_graph_edges=0)
    for k in want:
        assert fast[k] == pytest.approx(want[k], abs=2e-6), k
        assert dist[k] == pytest.approx(want[k], abs=2e-6), k


def test_ppr_mass_and_locality(spark, edges_df):
    out = _run(spark, edges_df, [("a", 1.0)])
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-5)
    # the disconnected component gets exactly zero mass
    assert out["x"] == 0.0 and out["y"] == 0.0
    # the seed holds the largest mass under restart
    assert out["a"] == max(out.values())


def test_ppr_weighted_seeds_differ_from_uniform_seed(spark, edges_df):
    two = _run(spark, edges_df, [("a", 3.0), ("d", 1.0)])
    one = _run(spark, edges_df, [("a", 1.0)])
    assert two != one
    assert two["e"] > one["e"]  # mass shifted toward d's neighborhood


def test_ppr_sql_twin_matches(spark, edges_df):
    vals = ",".join(f"('{u}','{v}',{w})" for u, v, w in EDGES)
    sql = pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst, w)",
        n_iter=N_ITER,
        sources_cte="SELECT 'a' AS node, 1.0 AS weight",
    )
    orc = {r[0]: r[1] for r in duckdb.connect().execute(sql).fetchall()}
    got = _run(spark, edges_df, [("a", 1.0)], small_graph_edges=0)
    assert got == orc


def test_ppr_zero_weight_seeds_raise(spark, edges_df):
    sdf = spark.createDataFrame([("zzz", 1.0)], "node string, weight double")
    with pytest.raises(ValueError, match="zero total weight"):
        pagerank(
            edges_df, weight_col="weight", personalization=sdf,
            small_graph_edges=0,
        ).collect()
    # an empty edge list has no node to seed, on either path
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    for small_graph_edges in (500_000, 0):
        with pytest.raises(ValueError, match="zero total weight"):
            pagerank(
                empty, weight_col="weight", personalization=sdf,
                small_graph_edges=small_graph_edges,
            ).collect()


def test_ppr_duplicate_seed_rows_accumulate(spark, edges_df):
    # duplicate seed rows must sum (driver path's += semantics), not
    # duplicate the node through the tele join (review finding)
    dup = _run(spark, edges_df, [("a", 0.5), ("a", 0.5)], small_graph_edges=0)
    one = _run(spark, edges_df, [("a", 1.0)], small_graph_edges=0)
    assert dup == one
    assert sum(dup.values()) == pytest.approx(1.0, abs=1e-5)
