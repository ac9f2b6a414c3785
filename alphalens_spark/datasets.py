"""Derived factor/prices panels from the driver's TPC-H-ish test data.

The reference consumes caller-built in-memory pandas inputs (SURVEY §2.1);
our engine's inputs are parquet scans. This module derives a deterministic
alpha-factor workload from the driver tables (TESTDATA.md):

  asset  = supplier (l_suppkey) — scales 10/100/1000 with SF
  date   = ISO week of l_shipdate — keeps the (date × asset) panel ~80%
           filled at every SF, so forward returns exercise the reference's
           missing-observation (NaN) semantics
  price  = volume-weighted unit price: sum(extendedprice)/sum(quantity)
  factor = discounted volume: sum(quantity * (1 - discount))
  group  = supplier's nation (broadcast dim join)

ORACLE_PANEL_SQL is the same derivation as ANSI SQL (DuckDB dialect) —
every __spark_entry__ oracle builds on it, so the Spark plan and the
DuckDB oracle compute identical semantics from the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize a nano-precision ``ts`` column read as long (see
    session.py nanosAsLong) to a microsecond timestamp — same as DuckDB's
    ns→µs cast. No-op when the session reads it as a timestamp type
    already (the driver's default session yields TIMESTAMP_NTZ). Shared
    by batch ``load_table`` and the streaming readers."""
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            # integer DIV, not `/`: ns epochs exceed 2^53, double division
            # would round the microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def price_factor_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(date, asset, price, factor) panel aggregated from lineitem.

    One shuffle (groupBy week × supplier); the parquet scan prunes to the
    four columns used (check ReadSchema in the plan).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_trunc("week", "l_shipdate").alias("date"),
            F.col("l_suppkey").alias("asset"),
        )
        .agg(
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("price"),
            F.sum(F.col("l_quantity") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "factor"
            ),
        )
    )


def prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return price_factor_panel(spark, sf_dir).select("date", "asset", "price")


def factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return price_factor_panel(spark, sf_dir).select("date", "asset", "factor")


def groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset, group) static mapping: supplier → nation name.

    Tiny dimension — the consumer joins it with F.broadcast (ref
    utils.py:600-612 dict-form groupby → broadcast hash join).
    """
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(F.col("s_suppkey").alias("asset"), F.col("n_name").alias("group"))
    )


def write_factor_data_partitioned(
    fd: DataFrame, path: str, partition_col: str = "date_month"
) -> None:
    """Persist factor_data as month-partitioned parquet.

    The 100 TB layout (SURVEY §4 partition pruning): partitioning by
    month keeps directory counts sane at decades of history while making
    every per-date / date-range query prune at the source — the
    reference's "reload only what changed" has no analogue; here it's
    free. Day-level keys would explode the small-file count at high SF;
    month × downstream AQE coalescing is the standard compromise.
    """
    (
        fd.withColumn(partition_col, F.date_format("date", "yyyy-MM"))
        .repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Shared ANSI-SQL derivation for the DuckDB oracle. The driver pre-registers
# the parquet tables as views named lineitem/supplier/nation/...
#
# Every CTE is AS MATERIALIZED: oracles reference px/fd several times, and
# DuckDB's default inlining re-derives the whole chain per reference — worse,
# with px inlined 3× the join-order optimizer can pick a px⋈px-on-asset-only
# order that goes quadratic (measured: event_study_car oracle 700 s inlined
# vs 0.5 s materialized at sf0.01). Materialization computes each stage once
# and keeps every downstream join hash-joinable on the real keys.
# ---------------------------------------------------------------------------

# (date, asset, price, factor) — must mirror price_factor_panel() exactly.
PANEL_CTE = """
panel AS MATERIALIZED (
  SELECT CAST(date_trunc('week', l_shipdate) AS TIMESTAMP) AS date,
         l_suppkey AS asset,
         sum(l_extendedprice) / sum(l_quantity) AS price,
         sum(l_quantity * (1.0 - l_discount)) AS factor
  FROM lineitem
  GROUP BY 1, 2
)"""

# calendar dim over the panel's distinct dates — mirrors calendar_.trading_calendar
CAL_CTE = """
cal AS MATERIALIZED (
  SELECT date, CAST(row_number() OVER (ORDER BY date) AS INT) AS day_idx
  FROM (SELECT DISTINCT date FROM panel) t
)"""

# panel with day_idx attached
PX_CTE = """
px AS MATERIALIZED (
  SELECT p.date, p.asset, p.price, p.factor, c.day_idx
  FROM panel p JOIN cal c ON p.date = c.date
)"""

# forward returns at +1 and +5 trading periods, row-positional on the
# calendar (missing future observation → NULL) — mirrors
# utils.compute_forward_returns
FWD_CTE = """
fwd AS MATERIALIZED (
  SELECT b.date, b.asset, b.factor,
         f1.price / b.price - 1 AS fwd_1p,
         f5.price / b.price - 1 AS fwd_5p
  FROM px b
  LEFT JOIN px f1 ON f1.asset = b.asset AND f1.day_idx = b.day_idx + 1
  LEFT JOIN px f5 ON f5.asset = b.asset AND f5.day_idx = b.day_idx + 5
)"""

# cleaned rows (inner-join semantics of ref utils.py:597-627)
CLEAN_CTE = """
clean AS MATERIALIZED (
  SELECT * FROM fwd
  WHERE fwd_1p IS NOT NULL AND fwd_5p IS NOT NULL AND factor IS NOT NULL
)"""

# 5-quantile labels via ntile over a deterministic total order — mirrors
# utils.quantize_factor(method='ntile'). Rounding the sort key to 6 dp
# makes the order (and therefore every label) bit-identical across
# engines; the tiebreak on asset makes it total.
QUANT_CTE = """
fd AS MATERIALIZED (
  SELECT c.*,
         CAST(ntile(5) OVER (PARTITION BY date
                             ORDER BY round(factor, 6), asset) AS INT)
           AS factor_quantile
  FROM clean c
)"""

ORACLE_PANEL_SQL = ",".join(
    [PANEL_CTE, CAL_CTE, PX_CTE, FWD_CTE, CLEAN_CTE, QUANT_CTE]
)

PERIODS = (1, 5)
PERIOD_COLS = ["1D", "5D"]  # engine-internal labels for +1/+5 trading periods
OUT_COLS = {"1D": "fwd_1p", "5D": "fwd_5p"}  # oracle-facing aliases


def factor_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cleaned+quantized factor_data from the derived panel.

    Lazy end-to-end: no job runs until the caller acts. There is no loss
    report here; run :func:`alphalens_spark.utils.get_clean_factor_and_forward_returns`
    with ``max_loss`` set for one.
    """
    return _factor_data_from_panel(price_factor_panel(spark, sf_dir))


def _factor_data_from_panel(
    panel: DataFrame, periods=PERIODS, quantiles: int = 5
) -> DataFrame:
    """Fused fast path over an already-built (date, asset, price, factor)
    panel: factor rides through the forward-return grid (carry_cols) —
    one window shuffle, no factor⋈returns join; the same rows as
    ``get_clean_factor_and_forward_returns`` over the panel with
    ``filter_zscore=None`` and ``quantize_method="ntile"``."""
    from alphalens_spark.utils import (
        compute_forward_returns,
        period_label,
        quantize_factor,
    )

    periods = tuple(sorted(periods))
    period_cols = [period_label(k) for k in periods]
    fwd = compute_forward_returns(panel, periods, carry_cols=["factor"])
    clean = fwd.na.drop(subset=[*period_cols, "factor"])
    return quantize_factor(clean, quantiles=quantiles, method="ntile").where(
        F.col("factor_quantile").isNotNull()
    )


def ingest(spark: SparkSession, sf_dir: str, persist: bool = True):
    """One-scan ingestion of BOTH canonical inputs.

    ``factor_data(...)`` and ``prices(...)`` each plan their own lineitem
    scan + (week × supplier) aggregation; a tear sheet needs both, so the
    natural usage re-read and re-aggregated the fact table twice. Here the
    aggregated panel is built ONCE, persisted (it is the post-aggregation
    frame — dates × assets rows, orders of magnitude smaller than the
    fact table, the thing you'd cache on a real cluster), and both frames
    derive from it: prices is a narrow projection of the cached panel,
    factor_data is one window shuffle on top.

    Returns ``(factor_data, prices, panel)`` — the panel handle so the
    caller can ``unpersist()`` the shared cache when done; the caller
    also owns persisting factor_data for metric-fanout reuse (bench
    does).
    """
    panel = price_factor_panel(spark, sf_dir)
    if persist:
        panel = panel.persist()
    return (
        _factor_data_from_panel(panel),
        panel.select("date", "asset", "price"),
        panel,
    )
