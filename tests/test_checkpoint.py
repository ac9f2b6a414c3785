"""The library's one lineage cut, :func:`alphalens_spark.session.checkpoint`.

Every call site goes through it, and when the session has a checkpoint
dir the checkpointed rows survive the loss of the executor blocks that a
local checkpoint depends on."""

import ast
import pathlib
from contextlib import contextmanager

import pytest
from conftest import count_jobs
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from alphalens_spark import graph, session
from alphalens_spark.scale import dedup
from alphalens_spark.streaming import ops

PKG = pathlib.Path(__file__).resolve().parent.parent / "alphalens_spark"
CUTS = ("localCheckpoint", "checkpoint")
# the error a read of a local checkpoint raises once its blocks are gone
LOST = "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
    ("d", "e"), ("e", "f"), ("d", "f"), ("f", "g"),
]


def test_checkpoint_helper_is_the_only_lineage_cut():
    """No module calls ``.localCheckpoint(`` or ``.checkpoint(`` itself:
    the helper in session.py is the one place that picks the mode."""
    tree = ast.parse((PKG / "session.py").read_text())
    helper = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "checkpoint"
    )
    sites = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in CUTS
    ]
    in_helper = [
        f"alphalens_spark/session.py:{line}"
        for line in range(helper.lineno, helper.end_lineno + 1)
    ]
    assert [s for s in sites if s not in in_helper] == []
    assert len(sites) == 2  # the helper's reliable and local branches


def test_session_is_the_only_cache():
    """No module calls ``.persist(`` or ``.cache(`` itself: session.py
    holds the library's one materialization policy, and its ``cache``
    helper is the one persist behind both the caller-owned caches and
    the cached-for-a-block frames of ``persisted``."""
    tree = ast.parse((PKG / "session.py").read_text())
    helper = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "cache"
    )
    sites = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ]
    assert len(sites) == 1, sites
    assert sites[0] in [
        f"alphalens_spark/session.py:{line}"
        for line in range(helper.lineno, helper.end_lineno + 1)
    ]


def _exchanges(df):
    """Shuffles the final plan of ``df.groupBy("k").count()`` runs; the
    plan a cached frame was built with prints under its InMemoryRelation
    and is skipped."""
    out = df.groupBy("k").count()
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    n, cached = 0, None
    for line in plan.split("== Initial Plan ==")[0].splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached is not None and depth > cached:
            continue
        cached = depth if "InMemoryRelation" in line else None
        n += "Exchange hashpartitioning" in line and "Reused" not in line
    return n


def test_checkpoint_drops_hash_partitioning_a_cache_keeps(spark):
    """The fact policy (b) rests on: under AQE (the session default) a
    checkpointed frame reports UnknownPartitioning, so grouping it again
    by its own key shuffles; a cached, filled frame keeps its hash
    partitioning and does not. Run at 8 shuffle partitions, the setting
    of the probe that found it."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        g = (
            spark.range(1000)
            .select((F.col("id") % 37).alias("k"))
            .groupBy("k")
            .count()
        )
        assert _exchanges(session.checkpoint(g)) == 1
        with session.persisted(g) as (n,):
            assert n == 37  # observed on the one fill job
            assert _exchanges(g) == 0
        assert not g.storageLevel.useMemory  # freed on exit
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stream_store_is_the_only_foreach_batch():
    """``.foreachBatch(`` is called once in the package, inside
    ``streaming.ops.stream_store``: a store is an update function, and
    that one starter runs any of them."""
    ops_path = PKG / "streaming" / "ops.py"
    starter = next(
        n for n in ast.parse(ops_path.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "stream_store"
    )
    sites = [
        (path, node.lineno)
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachBatch"
    ]
    assert len(sites) == 1, sites
    path, line = sites[0]
    assert path == ops_path
    assert starter.lineno <= line <= starter.end_lineno


@contextmanager
def _checkpoint_dir(spark, path):
    """Reliable mode for the block: set the session's checkpoint dir, then
    put the previous setting back (SparkContext has no public way to
    unset it, so the field behind ``getCheckpointDir`` is restored)."""
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(path))
    try:
        yield
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)


def _lose_blocks_after_each_cut(spark, monkeypatch, module):
    """Fault injection: right after every checkpoint ``module`` takes,
    drop every RDD block persisted since this call — what losing the
    executors that hold them does. Blocks persisted before the call
    (other tests' shared frames) are left alone."""
    jsc = spark.sparkContext._jsc
    kept = set(jsc.getPersistentRDDs().keySet())

    def cut_then_lose(df):
        out = session.checkpoint(df)
        rdds = jsc.getPersistentRDDs()
        for rdd_id in set(rdds.keySet()) - kept:
            rdds.get(rdd_id).unpersist(True)
        return out

    monkeypatch.setattr(module, "checkpoint", cut_then_lose)


def _lpa(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    # n_iter=5 cuts after rounds 2 and 4; round 4 reads round 2's cut
    return sorted(map(tuple, graph.label_propagation(df, n_iter=5).collect()))


def test_label_propagation_survives_lost_blocks_with_checkpoint_dir(
    spark, monkeypatch, tmp_path
):
    want = _lpa(spark)
    _lose_blocks_after_each_cut(spark, monkeypatch, graph)
    with _checkpoint_dir(spark, tmp_path / "ck"):
        assert _lpa(spark) == want
    # negative control: without a checkpoint dir the same loss is fatal
    with pytest.raises(Py4JJavaError, match=LOST):
        _lpa(spark)


def _hist_store(spark, path):
    for lo in (0, 60):
        batch = spark.range(lo, lo + 100).selectExpr("CAST(id AS DOUBLE) AS v")
        ops.hist_store_update(batch, str(path), "v", 0.0, 160.0, bins=16)
    return sorted(map(tuple, spark.read.parquet(str(path)).collect()))


def test_store_update_survives_lost_blocks_with_checkpoint_dir(
    spark, monkeypatch, tmp_path
):
    want = _hist_store(spark, tmp_path / "plain")
    assert sum(c for _, c in want) == 200
    _lose_blocks_after_each_cut(spark, monkeypatch, ops)
    with _checkpoint_dir(spark, tmp_path / "ck"):
        assert _hist_store(spark, tmp_path / "reliable") == want
    with pytest.raises(Py4JJavaError, match=LOST):
        _hist_store(spark, tmp_path / "local")


# Jobs one call runs on the fixture below, final collect included (the
# second call in a session with 4 shuffle partitions). The iterative
# operators read sizes and convergence from metrics observed on their
# checkpoint jobs, so a round runs no job besides its checkpoint's.
# Measured: 32, 22, 56-58, 35-36 and 49-52 jobs. AQE's stage timing
# moves a count by a job or two from run to run, hence the slack. Lower
# a ceiling when a change saves jobs; never raise one.
JOB_CEILINGS = {
    "connected_components": 32,
    "k_core": 22,
    "bfs_distances": 60,
    "sssp_distances": 40,
    "pagerank": 53,
}
PATH = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22)]
CHORDS = [(1, 3), (2, 4), (3, 5)]


def _graph_op(spark, name):
    pairs = spark.createDataFrame(PATH, "id_a long, id_b long")
    edges = spark.createDataFrame(PATH + CHORDS, "src long, dst long")
    weighted = spark.createDataFrame(
        [(a, b, 1 + a % 3) for a, b in PATH + CHORDS],
        "src long, dst long, weight long",
    )
    src = spark.createDataFrame([(1,)], "node long")
    return {
        "connected_components": lambda: dedup.connected_components(pairs),
        "k_core": lambda: graph.k_core(edges, 2),
        "bfs_distances": lambda: graph.bfs_distances(edges, src),
        "sssp_distances": lambda: graph.sssp_distances(weighted, src),
        "pagerank": lambda: graph.pagerank(
            edges, n_iter=5, small_graph_edges=0
        ),
    }[name]


def _jobs(spark, fn):
    """Rows of ``fn()`` and the number of Spark jobs computing them ran."""
    return count_jobs(spark, lambda: sorted(map(tuple, fn().collect())))


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_iterative_operator_job_ceiling(spark, name):
    fn = _graph_op(spark, name)
    want, _ = _jobs(spark, fn)
    rows, jobs = _jobs(spark, fn)
    assert rows == want and rows
    assert jobs <= JOB_CEILINGS[name], (name, jobs)
