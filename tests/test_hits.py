"""HITS hubs/authorities: parity with a numpy power iteration and the
unrolled-CTE SQL twin, plus the structural guarantees (no-out → hub 0,
no-in → authority 0, L1 normalization)."""

import duckdb
import numpy as np
import pytest

from alphalens_spark.graph import hits, hits_sql

EDGES = [
    ("c1", "p1"), ("c1", "p2"), ("c1", "p3"),
    ("c2", "p1"), ("c2", "p2"),
    ("c3", "p3"),
    ("c4", "p4"),
    # a second tier: parts pointing onward makes the graph non-bipartite
    ("p1", "p4"),
]
N_ITER = 5


def _numpy_hits(edges, n_iter):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in set(edges):
        A[idx[u], idx[v]] = 1.0
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    return {
        v: (round(float(h[idx[v]]), 6) + 0.0, round(float(a[idx[v]]), 6) + 0.0)
        for v in nodes
    }


def test_hits_matches_numpy_and_sql(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=N_ITER).collect()
    }
    want = _numpy_hits(EDGES, N_ITER)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6), k

    vals = ",".join(f"('{u}','{v}')" for u, v in EDGES)
    sql = hits_sql(f"SELECT * FROM (VALUES {vals}) t(src, dst)", N_ITER)
    orc = {
        r[0]: (r[1], r[2]) for r in duckdb.connect().execute(sql).fetchall()
    }
    assert got == orc


def test_hits_structural_zeroes(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=3).collect()
    }
    # pure sources have authority 0; pure sinks have hub 0
    assert got["c1"][1] == 0.0
    assert got["p4"][0] == 0.0
    # isolated pair still ranks: c4 only points at p4
    assert got["c4"][0] > 0.0 and got["p4"][1] > 0.0
    # L1 normalization: hubs and authorities each sum to 1
    assert sum(h for h, _ in got.values()) == pytest.approx(1.0, abs=1e-5)
    assert sum(a for _, a in got.values()) == pytest.approx(1.0, abs=1e-5)


def test_hits_rejects_zero_iterations(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    with pytest.raises(ValueError, match="n_iter"):
        hits(df, n_iter=0)


def test_broadcast_budget_is_bytes_based(spark):
    """VERDICT r08 item 10: the broadcast auto-decision must be an
    estimated-bytes budget, not a row count. The default 64 MiB budget
    reproduces the historic 2M-row cutoff for 2-field frames (no plan
    change on current data), and the budget scales with row width."""
    from alphalens_spark.graph import _fits_broadcast, label_propagation

    assert _fits_broadcast(2_097_152, 2, 64 << 20)          # exactly at budget
    assert not _fits_broadcast(2_097_153, 2, 64 << 20)      # one row over
    assert not _fits_broadcast(2_000_000, 4, 64 << 20)      # wider rows, same count
    # a frame is priced per field type (Catalyst defaultSize): long
    # (node, label) rows match the 8-byte count, while string ids are
    # 20 B each — 2M string-keyed rows pass the 8-byte estimate (64 MB)
    # but really need 112 MB, so they must not broadcast
    longs = spark.createDataFrame([], "node long, label long")
    strs = spark.createDataFrame([], "node string, label string")
    assert _fits_broadcast(2_097_152, longs, 64 << 20)
    assert not _fits_broadcast(2_097_153, longs, 64 << 20)
    assert _fits_broadcast(2_000_000, 2, 64 << 20)
    assert not _fits_broadcast(2_000_000, strs, 64 << 20)
    # tiny budget forces the shuffle fallback; output must be identical
    df = spark.createDataFrame(EDGES, "src string, dst string")
    bc = sorted(map(tuple, label_propagation(df, n_iter=2).collect()))
    sh = sorted(map(tuple, label_propagation(
        df, n_iter=2, broadcast_max_bytes=1
    ).collect()))
    assert bc == sh
    bc = sorted(map(tuple, hits(df, n_iter=3).collect()))
    sh = sorted(map(tuple, hits(
        df, n_iter=3, broadcast_max_bytes=1
    ).collect()))
    assert bc == sh
