"""The library's one lineage cut, :func:`alphalens_spark.session.checkpoint`.

Every call site goes through it, and when the session has a checkpoint
dir the checkpointed rows survive the loss of the executor blocks that a
local checkpoint depends on."""

import ast
import pathlib
from contextlib import contextmanager

import pytest
from py4j.protocol import Py4JJavaError

from alphalens_spark import graph, session
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
