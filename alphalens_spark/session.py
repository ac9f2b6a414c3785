"""SparkSession factory with engine-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every setting
here is also the right default for cluster mode except master/memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "alphalens_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE partition-count policy, env-parameterised (guide §2.2 /
        # VERDICT r08 item 6). MEASURED at sf0.1 on local[32]
        # (OPTIMIZATION_r09.md "Right-size parallelism"): flipping
        # parallelismFirst=false + advisory 256m so partition counts
        # derive purely from data size was a geomean +1.5% wash that cut
        # the small-stage latency entries (langid -0.31 s, hybrid-rrf
        # -0.22 s) but serialized the CPU-dense small-byte reduce stages
        # (ingestion +0.8 s, co-purchase pair join +0.7 s, basket_rules
        # +0.7 s) — at bench SF those stages are compute-bound on KB-MB
        # of shuffle bytes, exactly the regime Spark's
        # parallelismFirst=true default exists for. Defaults therefore
        # stay Spark's; on cluster-scale inputs (where a 256m partition
        # is thousands of times more rows than a whole local shuffle)
        # set SPARK_GRAFT_AQE_PARALLELISM_FIRST=false and
        # SPARK_GRAFT_ADVISORY_PARTITION_BYTES=256m for guide §9's
        # 100 MB-1 GB post-shuffle partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        # NULL (not error) on div-by-zero / overflow — matches both the
        # pandas reference (NaN propagation) and the DuckDB oracle
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata stores event timestamps as TIMESTAMP(NANOS);
        # Spark has no nanos type — read as long, convert at the source
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSource readers receive pushed filters
        # (alphalens_spark.sources.jsonl implements pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage — the one place the
    library does.

    When the session has a checkpoint dir (``spark.checkpoint.dir`` in
    the Spark conf, or ``SparkContext.setCheckpointDir``) the rows are
    written there (``df.checkpoint``), so a lost executor does not fail
    a later read. Otherwise they stay in executor block storage
    (``df.localCheckpoint``): faster, but a lost block fails every query
    that still reads them. Both forms plan as ``Scan ExistingRDD`` and
    neither keeps ``df``'s output partitioning — persist a frame whose
    hash partitioning later stages rely on.

    Always eager: a lazy reliable checkpoint of a frame that is then
    overwritten onto its own source path would read the path after the
    overwrite deleted it.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
