"""alphalens_spark.plans — plan-introspection API tests."""

import pytest
from pyspark.sql import functions as F

from alphalens_spark import datasets, plans

SF_DIR = "/root/testdata/sf0.001"


def test_plan_summary_counts_shuffle_and_scan_pruning(spark):
    li = datasets.load_table(spark, SF_DIR, "lineitem")
    df = (
        li.where(F.col("l_quantity") > 30)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"))
    )
    s = plans.plan_summary(df)
    assert s.shuffles == 1  # the group-by exchange, nothing else
    assert s.quadratic_joins == 0
    assert len(s.scans) == 1
    # column pruning reached the reader: only the three referenced cols
    assert sorted(s.scans[0].read_columns) == [
        "l_extendedprice", "l_quantity", "l_returnflag",
    ]
    # predicate pushdown reached the reader
    assert any("GreaterThan(l_quantity" in f for f in s.scans[0].pushed_filters)


def test_scan_report_shows_what_reached_the_reader(spark):
    li = datasets.load_table(spark, SF_DIR, "lineitem")
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey")
    (scan,) = plans.scan_report(df)
    assert sorted(scan.read_columns) == ["l_orderkey", "l_quantity"]
    assert any("GreaterThan(l_quantity" in f for f in scan.pushed_filters)
    assert "lineitem" in scan.location
    # a self-join reads the table twice: one entry per scan
    assert len(plans.scan_report(df.join(df, "l_orderkey"))) == 2


def test_plan_summary_broadcast_join_classified(spark):
    li = datasets.load_table(spark, SF_DIR, "lineitem")
    ord_ = datasets.load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    df = li.join(F.broadcast(ord_), li.l_orderkey == ord_.o_orderkey)
    s = plans.plan_summary(df)
    assert s.broadcast_hash_joins == 1
    assert s.broadcasts >= 1
    assert s.nested_loop_joins == 0


def test_assert_scalable_rejects_quadratic_join(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    bad = a.join(b, a.id * 2 > b.id2)  # non-equi -> nested loop
    with pytest.raises(AssertionError):
        plans.assert_scalable(bad)
    # but allowed when the caller declares the 1-row-broadcast intent
    plans.assert_scalable(bad, allow_nested_loop=True)


def test_assert_scalable_shuffle_budget(spark):
    li = datasets.load_table(spark, SF_DIR, "lineitem")
    two = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
        .orderBy("q")  # adds a range exchange
    )
    with pytest.raises(AssertionError):
        plans.assert_scalable(two, max_shuffles=1)
    plans.assert_scalable(two, max_shuffles=2)


def test_assert_scalable_forbid_python(spark):
    from pyspark.sql.functions import pandas_udf

    up = pandas_udf(lambda s: s, "long")
    df = spark.range(10).select(up("id").alias("x"))
    with pytest.raises(AssertionError):
        plans.assert_scalable(df, forbid_python=True)
    plans.assert_scalable(df)  # python allowed by default


def test_engine_operators_pass_the_gate(spark):
    """The engine's own single-shuffle contracts restated through the
    public API (same facts as tests/test_plans.py, first-class form)."""
    from alphalens_spark.scale.curation import chunk_documents
    from alphalens_spark.scale.similarity import random_projection

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    s = plans.assert_scalable(
        chunk_documents(docs, size=2, stride=1), max_shuffles=0,
        forbid_python=True,
    )
    assert s.generates == 1
    emb = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])],
        "vec_id bigint, embedding array<double>",
    )
    plans.assert_scalable(
        random_projection(emb), max_shuffles=0, forbid_python=True
    )


def test_strip_cached_builds_excludes_build_subtree(spark):
    """steady_state=True must drop the InMemoryRelation BUILD operators
    (paid once at cache materialization) while keeping the
    InMemoryTableScan read and every operator above it."""
    from pyspark.sql import functions as F

    from alphalens_spark.plans import plan_summary

    base = (
        spark.range(0, 1000)
        .withColumn("k", F.pmod("id", F.lit(7)))
        .groupBy("k")
        .agg(F.sum("id").alias("s"))  # build plan contains ONE shuffle
        .persist()
    )
    try:
        q = base.groupBy((F.col("k") % 2).alias("b")).agg(F.sum("s").alias("t"))
        full = plan_summary(q)
        ss = plan_summary(q, steady_state=True)
        # full text sees build + query shuffles; steady state only the
        # query's own aggregation shuffle
        assert full.shuffles == ss.shuffles + 1
        assert ss.shuffles >= 1
        # the cache READ itself must survive the strip
        from alphalens_spark.plans import _plan_text, strip_cached_builds

        kept = strip_cached_builds(_plan_text(q))
        assert "InMemoryTableScan" in kept
        assert "InMemoryRelation" not in kept
    finally:
        base.unpersist()


def test_strip_cached_builds_nested_executed_sections():
    """A cached build that itself reads another cache renders the inner
    AdaptiveSparkPlan's "== Final Plan ==" sections REBASED — often
    SHALLOWER than the owning InMemoryRelation line — so a purely
    indentation-based strip resumed mid-build and counted build
    operators as steady-state cost (observed on the graph queries'
    nested persists). Executed-only lines must keep the skip alive."""
    from alphalens_spark.plans import strip_cached_builds

    txt = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- HashAggregate(keys=[node], functions=[sum(w)])",
            "   +- BroadcastHashJoin [nbr], [nbr], Inner, BuildRight, false",
            "      :- InMemoryTableScan [node, nbr, w]",
            "      :     +- InMemoryRelation [node, nbr, w], StorageLevel(memory)",
            "      :           +- AdaptiveSparkPlan isFinalPlan=true",
            # nested executed render: rebased LEFT of the InMemoryRelation
            # line (indent 12 < 15) but right of the genuine outer tree
            "            +- == Final Plan ==",
            "               ResultQueryStage 2",
            "               +- ShuffleQueryStage 1",
            "                  +- Exchange hashpartitioning(u, 32), ENSURE_REQUIREMENTS",
            "                     +- *(1) HashAggregate(keys=[u], functions=[])",
            "                        +- FileScan parquet [l_orderkey,l_partkey]",
            "            +- == Initial Plan ==",
            "               Exchange hashpartitioning(u, 32), ENSURE_REQUIREMENTS",
            "               +- HashAggregate(keys=[u], functions=[])",
            "                  +- FileScan parquet [l_orderkey,l_partkey]",
            # genuine outer-tree continuation (the join's build side)
            "      +- BroadcastExchange HashedRelationBroadcastMode(List(input))",
            "         +- Filter isnotnull(nbr)",
        ]
    )
    kept = strip_cached_builds(txt)
    assert "FileScan" not in kept, kept
    assert "Exchange hashpartitioning" not in kept, kept
    assert "InMemoryTableScan" in kept
    assert "BroadcastExchange" in kept
    assert "Filter isnotnull(nbr)" in kept
