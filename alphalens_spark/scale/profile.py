"""Single-pass column profiling — the data-quality screen a pipeline runs
before training on a new source.

One ``agg`` computes every statistic for every requested column
simultaneously (Catalyst evaluates them in a single scan with map-side
partial aggregation; the only full-shuffle component is the exact
distinct count, which Spark plans via Expand — swap to
``approx_count_distinct`` with ``exact_distinct=False`` when profiling
petabyte tables, where a 2% HLL estimate is the standard trade). The
1-row result is reshaped driver-free into one row per column with an
inline explode — no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint

__all__ = [
    "profile_columns", "kmv_distinct", "histogram_quantiles", "cm_sketch",
    "cm_estimate", "winsorize", "heavy_hitters", "robust_zscore",
    "validate_expectations", "kmv_set_estimates", "psi_report",
    "ks_two_sample", "hll_registers", "hll_estimate", "hll_distinct",
]


def profile_columns(
    df: DataFrame,
    cols: list[str],
    exact_distinct: bool = True,
) -> DataFrame:
    """Numeric profile of ``cols``: row/null/distinct counts, min/max,
    mean, and exact interpolated quartiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` semantics — never the approximate sketch,
    so results are engine-reproducible).

    Output: (column, n_rows, n_nonnull, n_nulls, n_distinct, min_value,
    max_value, mean, p25, p50, p75), one row per profiled column.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        d = F.col(c).cast("double")
        distinct = (
            F.countDistinct(F.col(c)) if exact_distinct else F.approx_count_distinct(c)
        )
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            distinct.alias(f"{c}__nd"),
            F.min(d).alias(f"{c}__min"),
            F.max(d).alias(f"{c}__max"),
            F.avg(d).alias(f"{c}__mean"),
            F.percentile(d, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias(
                f"{c}__q"
            ),
        ]
    row = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                (F.col("_n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.round(f"{c}__min", 6).alias("min_value"),
                F.round(f"{c}__max", 6).alias("max_value"),
                F.round(f"{c}__mean", 6).alias("mean"),
                F.round(F.col(f"{c}__q")[0], 6).alias("p25"),
                F.round(F.col(f"{c}__q")[1], 6).alias("p50"),
                F.round(F.col(f"{c}__q")[2], 6).alias("p75"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(per_col).alias("p")).select("p.*")


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002) —
    the mergeable cardinality estimator for when even Spark's exact
    distinct (an Expand + full shuffle of every distinct value) is too
    much state per group, and unlike HLL the sketch is plain integers:
    deterministic, engine-reproducible, and therefore fully
    oracle-checkable against another SQL engine.

    Estimator: hash every value to u ~ Uniform via a 60-bit md5 prefix;
    with h_(k) the k-th smallest DISTINCT hash, E[d] ≈ (k−1)/(h_(k)/2^60).
    Groups with fewer than k distinct hashes report their exact count.

    Scale shape: project→hash, distinct on (group, hash) — map-side
    partial dedupe, ONE shuffle on a uniform key — then a per-group
    bottom-k window over at most d rows and a final tiny aggregate.
    No value ever travels whole: only 8-byte hashes shuffle.
    Output: (group…, n_mins, est_distinct).
    """
    from pyspark.sql import Window

    from alphalens_spark.scale.dedup import md5_long

    h = md5_long(F.col(value_col).cast("string"), 15)
    dh = df.select(*group_cols, h.alias("_h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy("_h")
    topk = dh.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    est = kmv_estimate(F.col("n_mins"), F.col("_kth"), k)
    return (
        topk.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("int").alias("n_mins"), F.max("_h").alias("_kth"))
        .select(*group_cols, "n_mins", F.round(est, 6).alias("est_distinct"))
    )


def kmv_estimate(n_mins, kth, k: int):
    """The shared KMV cardinality estimator expression (Bar-Yossef et
    al. 2002) over a sketch's (n_mins, kth-smallest-60-bit-hash) pair:
    ``(k−1)/(kth/2^60)``, exact-count fallback when the sketch holds
    fewer than k distinct hashes. One definition for every KMV consumer
    (kmv_distinct, kmv_set_estimates' convention, rolling actives) so
    estimator/hash-width fixes cannot desynchronize them."""
    h_max = float(1 << 60)
    return F.when(n_mins < k, n_mins.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth.cast("double") / F.lit(h_max))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    probs: list[float] = (0.5, 0.9, 0.99),
    bins: int = 256,
) -> DataFrame:
    """Approximate quantiles from a fixed-width histogram — the
    bounded-state quantile path for 100 TB tables, where exact
    ``percentile`` must shuffle every value to its group and hold the
    full sorted run. Error is bounded by one bin width (range/bins);
    unlike t-digest/KLL the estimate is a pure function of the bin
    counts, so it is deterministic and replays in any SQL engine.

    Two linear passes, each ONE small-keyed shuffle with map-side
    partials: (1) per-group min/max, broadcast back; (2) per-(group, bin)
    counts → ordered cumulative window over ≤``bins`` rows per group →
    linear interpolation inside the bin that crosses each target rank.
    Output: (group…, prob, est_quantile).
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    stats = df.groupBy(*group_cols).agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi"), F.count(v).alias("_n")
    )
    j = df.where(v.isNotNull()).join(F.broadcast(stats), group_cols)
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    idx = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((v - F.col("_lo")) / width).cast("int")
        ),
    )
    # degenerate group (all values equal): width 0 -> bin 0
    idx = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(idx)
    # _lo/_hi/_n are constant per group (they came off the broadcast
    # stats join), so grouping by them too changes no group while
    # letting them ride through the aggregation — the re-join of the
    # broadcast stats frame this replaces re-planned the whole stats
    # aggregation (a third scan of the fact table when exchange reuse
    # does not fire under AQE; guide §2.4)
    counts = j.groupBy(
        *group_cols, "_lo", "_hi", "_n", idx.alias("_bin")
    ).agg(F.count(F.lit(1)).alias("_c"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    probs_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "prob double"
    )
    pj = cum.join(F.broadcast(probs_df), F.col("prob") * F.col("_n") <= F.col("_cum"))
    # first (lowest) bin whose cumulative count reaches the target rank
    pick = (
        Window.partitionBy(*group_cols, "prob").orderBy("_bin")
    )
    first = (
        pj.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
    )
    frac = (
        (F.col("prob") * F.col("_n") - (F.col("_cum") - F.col("_c")))
        / F.col("_c")
    )
    bw = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    est = F.col("_lo") + (F.col("_bin").cast("double") + frac) * bw
    est = F.when(F.col("_hi") == F.col("_lo"), F.col("_lo")).otherwise(est)
    return first.select(
        *group_cols, "prob", F.round(est, 6).alias("est_quantile")
    )


def _cm_col(row_col: F.Column, item: F.Column, width: int, hasher: str) -> F.Column:
    """(row, item) -> counter column index under the chosen hash family.

    'md5' replays bit-exactly in DuckDB (the oracle path); 'xxhash64' is
    the production default for throughput — one JVM codegen hash vs four
    md5 rounds per item, same uniformity guarantees for CM purposes.
    Sketch and probe must use the SAME hasher.
    """
    from alphalens_spark.scale.dedup import md5_long

    salted = F.concat(row_col.cast("string"), F.lit(":"), item)
    if hasher == "md5":
        h = md5_long(salted, 15)
    elif hasher == "xxhash64":
        h = F.xxhash64(salted)
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    return F.pmod(h, F.lit(width)).cast("int")


def cm_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    hasher: str = "md5",
) -> DataFrame:
    """Count-min sketch counters (Cormode & Muthukrishnan 2005): the
    fixed-size frequency summary for unbounded key domains — depth
    independent md5-salted hash rows × width columns, each counter the
    sum of everything that lands in it. Point estimate = min over rows
    (see :func:`cm_estimate`), an upper bound that overcounts only by
    collisions.

    Deterministic salted hashing; the default 'md5' hasher replays
    bit-exactly in SQL (full value oracle), 'xxhash64' is the
    production fast path (~3× on token streams, same CM guarantees).
    One explode (×depth, fixed fan-out) + ONE groupBy shuffle on the
    uniform (row, col) key; the result is depth×width rows regardless of
    input size. Output: (row, col, count).
    """
    rows_ = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    ex = df.select(F.col(item_col).cast("string").alias("_it")).select(
        "_it", rows_
    )
    col = _cm_col(F.col("row"), F.col("_it"), width, hasher)
    return (
        ex.groupBy("row", col.alias("col"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str = "item",
    width: int = 1024,
    depth: int | None = None,
    hasher: str = "md5",
) -> DataFrame:
    """Point-frequency estimates from a count-min sketch: hash each probe
    item with the same salted rows, look its (row, col) counters up by
    equi-join (missing counter ⇒ 0), take the min across rows — the CM
    upper-bound estimate. The sketch side is depth×width rows: always
    broadcast. Pass ``depth`` to keep the plan collect-free (else it is
    read off the sketch with a bounded 1-value job).
    Output: (item, est_count)."""
    if depth is None:
        depth = sketch.agg(F.max("row")).collect()[0][0] + 1
    rows_ = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    p = probes.select(F.col(item_col).cast("string").alias("item")).select(
        "item", rows_
    )
    col = _cm_col(F.col("row"), F.col("item"), width, hasher)
    looked = p.select("item", "row", col.alias("col")).join(
        F.broadcast(sketch), ["row", "col"], "left"
    )
    return (
        looked.groupBy("item")
        .agg(F.min(F.coalesce(F.col("count"), F.lit(0))).alias("est_count"))
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 10,
    depth: int = 4,
    width: int = 1024,
    hasher: str = "md5",
) -> DataFrame:
    """Top-k most frequent items by count-min estimate (the CM
    heavy-hitters readout, Cormode & Muthukrishnan 2005 §4): sketch the
    corpus, estimate every DISTINCT item's frequency against the sketch
    (broadcast lookup — the sketch is depth×width rows), keep the k
    largest by (est_count desc, item asc).

    The top-k is ``orderBy().limit()`` — Spark plans TakeOrderedAndProject
    (per-partition top-k, driver merge of k·P rows), never a global
    window, so the readout scales with the distinct-item domain the same
    way a groupBy does. Estimates are CM upper bounds: exact for true
    heavy hitters whenever their counts clear the collision noise
    (ε ≈ e/width of total mass). Output: (item, est_count), the k rows.
    """
    sketch = cm_sketch(df, item_col, depth, width, hasher=hasher)
    items = df.select(F.col(item_col).cast("string").alias("item")).distinct()
    est = cm_estimate(sketch, items, width=width, depth=depth, hasher=hasher)
    return est.orderBy(F.col("est_count").desc(), F.col("item")).limit(k)


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group percentile winsorization — CLIP outliers to the exact
    [p_lower, p_upper] interval instead of dropping them (the transform
    complement of the reference's ``filter_zscore`` drop; winsorizing
    keeps row counts and panel alignment intact, which matters when the
    downstream join expects every (date, asset) present).

    Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``) computed per group in one aggregation and
    broadcast back; the clip is a pure projection. Two small-keyed
    passes total. Output: input columns + (value winsorized, clip flags).
    """
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(v, F.lit(float(lower))).alias("_lo"),
        F.percentile(v, F.lit(float(upper))).alias("_hi"),
    )
    j = df.join(F.broadcast(bounds), group_cols)
    clipped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return j.select(
        *df.columns,
        F.round(clipped, 6).alias(f"{value_col}_winsorized"),
        (v < F.col("_lo")).alias("clipped_low"),
        (v > F.col("_hi")).alias("clipped_high"),
    )


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.5,
) -> DataFrame:
    """Median/MAD robust z-scores per group — the outlier signal whose
    baseline the outliers cannot poison: a 1000× spike shifts a mean/std
    z-score's own denominator (masking), but moves the median and the
    median absolute deviation almost not at all. score = 0.6745·(x −
    med)/MAD (the normal-consistency constant) with the |z| > 3.5
    outlier rule (Iglewicz & Hoaglin 1993); the row-preserving companion
    to :func:`winsorize` (which clips to percentiles) and the robust
    replacement for the reference's mean/std ``filter_zscore``.

    Two grouped exact-percentile aggregations (median, then median of
    absolute deviations) with the tiny per-group stats broadcast back —
    the same two-pass shape as winsorize. MAD = 0 (constant-majority
    group) yields NULL scores rather than ±inf. Output: input columns +
    (robust_z, is_outlier).
    """
    v = F.col(value_col).cast("double")
    # persist the group-dimension median: it feeds the MAD pass and the
    # combined stats relation, and unpersisted each reference re-planned
    # the grouped percentile over the fact table
    med = (
        df.groupBy(*group_cols)
        .agg(F.percentile(v, F.lit(0.5)).alias("_med"))
        .persist()
    )
    mad = df.join(F.broadcast(med), group_cols).groupBy(*group_cols).agg(
        F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad")
    )
    # combine the two per-group stats BEFORE touching the fact table
    # again: scoring joins ONE broadcast stats relation, so the fact
    # table is scanned twice (median pass + scoring) instead of the
    # old dev-frame form's four (dev re-planned the med join under both
    # the MAD aggregate and the scoring projection; guide §2.4)
    stats = med.join(mad, group_cols)
    z = F.lit(0.6745) * (v - F.col("_med")) / F.nullif(F.col("_mad"), F.lit(0.0))
    return (
        df.join(F.broadcast(stats), group_cols)
        .withColumn("robust_z", F.lit(0.0) + F.round(z, 6))
        .withColumn("is_outlier", F.abs(F.col("robust_z")) > threshold)
        .drop("_med", "_mad")
    )


def validate_expectations(
    df: DataFrame, rules: dict[str, str]
) -> DataFrame:
    """Data-quality expectation screen: each rule is a named SQL boolean
    predicate that every row is expected to satisfy; the output is one
    row per rule with its violation count and pass flag — the gate a
    pipeline runs before promoting a new drop of data.

    ONE aggregation evaluates every rule in a single scan (a violation
    is ``NOT coalesce(pred, FALSE)`` — a NULL predicate is a violation,
    not a pass); the 1-row result reshapes to per-rule rows with an
    inline explode, the same driver-free pattern as
    :func:`profile_columns`. Output: (rule, n_rows, n_violations, pass).
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, pred in rules.items():
        viol = ~F.coalesce(F.expr(pred), F.lit(False))
        aggs.append(F.sum(viol.cast("long")).alias(f"_v_{name}"))
    row = df.agg(*aggs)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v_{name}").alias("n_violations"),
                (F.col(f"_v_{name}") == 0).alias("pass"),
            )
            for name in rules
        ]
    )
    return row.select(F.explode(per_rule).alias("r")).select("r.*")


def kmv_set_estimates(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV set-OPERATION estimates between two populations (Beyer et al.
    2007): distinct count of each side, of the union, the Jaccard, and
    the intersection — all from two bottom-k hash sketches, never from
    the raw sets. This is the estimator that answers "how many users do
    segments A and B share" at 100 TB with k rows of state per side:
    the union sketch is the bottom-k of (A's mins ∪ B's mins), its k-th
    smallest hash h_k anchors the density estimate, and Jaccard is the
    fraction of the union sketch present in BOTH sides' sketches.

    Everything is the deterministic 60-bit md5 uniform (engine-
    reproducible, same as :func:`kmv_distinct`), bottom-k via
    orderBy/limit (TakeOrderedAndProject) — after that every frame is
    ≤ k rows and the arithmetic is a driver-free 1-row aggregate.
    Exact-count fallback when a sketch holds the whole set (< k mins).
    Output: one row (n_a_mins, n_b_mins, est_a, est_b, est_union,
    est_jaccard, est_intersection).
    """
    from alphalens_spark.scale.dedup import md5_long

    def mins(df):
        h = md5_long(F.col(value_col).cast("string"), 15)
        return df.select(h.alias("_h")).distinct().orderBy("_h").limit(k)

    # each ≤k-row sketch feeds THREE consumers (the union sketch, the
    # membership tags, its own stats row); unpersisted, every reference
    # re-planned the full scan + distinct + bottom-k over the raw
    # population — six fact scans for one 1-row answer (guide §5:
    # persist when reused and recomputation is the expensive part)
    ka = mins(df_a).withColumn("_in_a", F.lit(1)).persist()
    kb = mins(df_b).withColumn("_in_b", F.lit(1)).persist()
    u = (
        ka.select("_h")
        .unionByName(kb.select("_h"))
        .distinct()
        .orderBy("_h")
        .limit(k)
    )
    tagged = (
        u.join(ka, "_h", "left").join(kb, "_h", "left")
    )

    def est(n_mins, kth):
        return kmv_estimate(n_mins, kth, k)

    stats_a = ka.agg(
        F.count(F.lit(1)).alias("na"), F.max("_h").alias("ha")
    )
    stats_b = kb.agg(
        F.count(F.lit(1)).alias("nb"), F.max("_h").alias("hb")
    )
    stats_u = tagged.agg(
        F.count(F.lit(1)).alias("nu"),
        F.max("_h").alias("hu"),
        F.sum(
            (F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull()).cast("int")
        ).alias("nboth"),
    )
    row = stats_u.crossJoin(F.broadcast(stats_a)).crossJoin(F.broadcast(stats_b))
    est_u = est(F.col("nu"), F.col("hu"))
    jac = F.col("nboth").cast("double") / F.col("nu")
    return row.select(
        F.col("na").cast("int").alias("n_a_mins"),
        F.col("nb").cast("int").alias("n_b_mins"),
        (F.lit(0.0) + F.round(est(F.col("na"), F.col("ha")), 6)).alias("est_a"),
        (F.lit(0.0) + F.round(est(F.col("nb"), F.col("hb")), 6)).alias("est_b"),
        (F.lit(0.0) + F.round(est_u, 6)).alias("est_union"),
        (F.lit(0.0) + F.round(jac, 6)).alias("est_jaccard"),
        (F.lit(0.0) + F.round(jac * est_u, 6)).alias("est_intersection"),
    )


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias-correction constant for m registers."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """The HyperLogLog sketch rows (Flajolet et al. 2007): per
    (group, bucket) the max leading-zero rank observed — 2^p registers
    of state per group, ever.

    The usual HLL objection — "it needs a platform hash, so you can't
    verify it" — doesn't hold here: the bucket is the top ``p`` bits and
    the rank the leading-zero count of the remaining ``60−p`` bits of
    the SAME 60-bit md5 prefix every sketch in this module uses, and the
    leading-zero count is computed from the integer-exact binary-digit
    length (``length(bin(w))`` — identical in Spark and DuckDB), so the
    registers and therefore the estimate replay bit-exactly in plain
    SQL. No floats anywhere in the sketch itself.

    Scale shape: project → hash → ONE groupBy on (group, bucket) with
    map-side partial max — values never shuffle, only (bucket ≤ 2^p,
    rank ≤ 61−p) integers. Registers merge by element-wise MAX, which
    is why the sketch is also the streaming-store algebra of
    :func:`alphalens_spark.streaming.ops.hll_store_update`.
    Output: (group…, bucket, max_rho).
    """
    from alphalens_spark.scale.dedup import md5_long

    w = 60 - p
    h = md5_long(F.col(value_col).cast("string"), 15)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    # rho = leading zeros of the w-bit remainder + 1 = w+1 − bit_length;
    # bin() renders without leading zeros on both engines, so
    # length(bin(rem)) IS the bit length (0 handled explicitly).
    bitlen = F.when(rem == 0, F.lit(0)).otherwise(F.length(F.bin(rem)))
    rho = (F.lit(w + 1) - bitlen).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.shiftright(h, w).cast("int").alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """Cardinality estimates off HLL register rows — shared by the batch
    path (:func:`hll_distinct`) and the streaming-store readout so the
    estimator can never desynchronize between them.

    Engine-reproducible arithmetic: the harmonic-mean denominator
    Σ 2^(−M_j) is scaled by 2^(w+1) into a BIGINT sum of exact powers of
    two (every term and the total fit in 63 bits for p ≥ 4), so the only
    float steps are one cast, one division by the literal α·m²·2^(w+1),
    and the small-range ``m·ln(m/V)`` correction — each deterministic
    under round-to-nearest on both engines, then rounded to 6 dp.
    Output: (group…, n_buckets, est_distinct).
    """
    m = 1 << p
    w1 = 60 - p + 1
    num = _hll_alpha(m) * m * m * float(1 << w1)
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {w1} - max_rho)")
        ).alias("_s"),
    )
    # unseen buckets carry M_j = 0 → scaled term 2^(w+1) each
    total = F.col("_s") + (
        (F.lit(m).cast("long") - F.col("n_buckets").cast("long"))
        * F.lit(1 << w1).cast("long")
    )
    raw = F.lit(num) / total.cast("double")
    small = (raw <= F.lit(2.5 * m)) & (F.col("n_buckets") < m)
    corrected = F.when(
        small,
        F.lit(float(m))
        * F.log(
            F.lit(float(m))
            / (F.lit(m).cast("double") - F.col("n_buckets").cast("double"))
        ),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_buckets",
        (F.round(corrected, 6) + F.lit(0.0)).alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (Flajolet et al.
    2007) — the fixed-state complement to :func:`kmv_distinct`: KMV
    state grows with k and its accuracy with k, HLL state is a flat
    2^p SMALL INTEGERS per group (≤ 6 bits each) with relative error
    ≈ 1.04/√m, which is what a 100 TB profile keeps per column when even
    k hashes per group is too much. Registers merge by element-wise max,
    so sketches from independent shards/streams combine losslessly.

    Deterministic md5-based bucketing + integer-exact estimator
    arithmetic (see :func:`hll_registers` / :func:`hll_estimate`) make
    this — unusually for HLL — fully value-oracle-checkable against
    another SQL engine. Output: (group…, n_buckets, est_distinct).
    """
    return hll_estimate(hll_registers(df, group_cols, value_col, p), group_cols, p)


def column_entropy(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Shannon entropy (nats) + normalized entropy per column — the
    profiling signal that separates near-constant columns (entropy → 0,
    drop or dictionary-encode) from high-cardinality identifiers
    (normalized entropy → 1), and the drift alarm when a feed's
    category mix shifts.

    Exact, from value counts: H = −Σ p·ln p over the distinct-value
    distribution (NULL is a category of its own); ``h_norm`` divides by
    ln(n_distinct) (0.0 for a single-valued column). One groupBy per
    column, each over that column's value dimension; the per-column
    results union into one frame — columns are independent aggregations,
    so Spark schedules them as parallel job chains.

    Output: (column, n_rows, n_distinct, entropy, h_norm).
    """
    outs = []
    for c in cols:
        counts = df.groupBy(F.col(c).alias("_v")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        agg = counts.agg(
            F.sum("_n").alias("_total"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("_n") * F.log("_n")).alias("_sum_nlogn"),
        )
        # H = ln(total) − (Σ n·ln n)/total  (algebraic form of −Σ p ln p:
        # one pass, no second join against the total)
        h = F.log("_total") - F.col("_sum_nlogn") / F.col("_total")
        outs.append(
            agg.select(
                F.lit(c).alias("column"),
                F.col("_total").alias("n_rows"),
                "n_distinct",
                (F.round(h, 6) + F.lit(0.0)).alias("entropy"),
                F.when(F.col("n_distinct") > 1, F.round(h / F.log("n_distinct"), 6) + F.lit(0.0))
                .otherwise(F.lit(0.0))
                .alias("h_norm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# Benford first-digit probabilities log10(1 + 1/d), 6-dp micro-units.
# Embedded as exact integer literals (they sum to exactly 1,000,000)
# instead of computing log10 at runtime: libm log implementations are
# NOT correctly-rounded, so Spark's JVM log and DuckDB's C log can
# differ in the last ulp and break the value oracle.
_BENFORD_P_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_screen(
    df: DataFrame,
    amount_int_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Benford's-law first-digit screen — the classic fraud /
    fabricated-data tripwire for naturally-occurring amounts (Nigrini):
    genuine multi-magnitude amounts start with 1 ~30.1% of the time;
    invented numbers don't.

    Input contract: ``amount_int_col`` is an INTEGER-GRID amount
    (quantize currency to cents first). The first significant digit
    comes from the decimal string of that integer — never from
    ``floor(x/10^floor(log10 x))`` float arithmetic, and the Benford
    probabilities are embedded 6-dp integer literals (runtime log10 is
    a libm call that differs across engines in the last ulp). Zero
    amounts carry no leading digit and are excluded.

    Per (group, digit): observed count, total, expected count in
    micro-units (``n·p_e6`` — an exact integer product), the signed
    deviation ``n_obs·1e6 − expected`` (exact), and the chi-square
    contribution ``round(dev² / expected_e6 / 1e6)`` in micro-units
    (one exact-integer division chain). Σ contrib ≈ χ²(8) · 1e6.

    Every group emits ALL NINE digit rows — a digit with ZERO
    observations is the strongest possible Benford violation (e.g. a
    fabricated corpus that never starts with 1 carries a dominating
    chi-square term there), so it must appear with n_obs = 0 rather
    than silently vanish from the groupBy (review-caught). Two
    map-side-combinable groupBys + one group×digit join (both sides
    9-rows-per-group — AQE broadcasts). Output: group_cols + (digit,
    n_obs, n_total, expected_e6, deviation_e6, chi2_contrib_e6) — all
    exact integers.
    """
    gs = list(group_cols or [])
    amt = F.abs(F.col(amount_int_col).cast("long"))
    digit = F.substring(amt.cast("string"), 1, 1).cast("int")
    base = df.where(amt > 0).select(*gs, digit.alias("digit"))
    counts = base.groupBy(*gs, "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    # collapse each group's ≤9 digit counts into ONE row (digit→count
    # map + total), then explode the fixed nine-digit dimension back
    # out of it. One fact scan and zero joins: the earlier form scanned
    # the base twice (separate counts/totals groupBys — VERDICT r07 #4)
    # and re-attached the counts through a null-safe-keyed left join
    # whose missing-digit/NULL-group hazards this shape cannot have —
    # a groupBy keeps NULL group keys as one group end to end
    # (guide §2.4: remove shuffles outright; §3: the cheapest join is
    # no join).
    per_group = counts.groupBy(*gs).agg(
        F.map_from_entries(
            F.collect_list(F.struct("digit", "n_obs"))
        ).alias("_m"),
        F.sum("n_obs").cast("long").alias("n_total"),
    )
    p_e6 = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for d, p in sorted(_BENFORD_P_E6.items())
                for x in (d, p)
            ]
        ),
        F.col("digit"),
    ).cast("long")
    staged = per_group.select(
        *gs,
        F.explode(
            F.array(*[F.lit(d) for d in sorted(_BENFORD_P_E6)])
        ).alias("digit"),
        "_m",
        "n_total",
    ).select(
        *gs,
        "digit",
        F.coalesce(F.element_at("_m", F.col("digit")), F.lit(0))
        .cast("long")
        .alias("n_obs"),
        "n_total",
        (F.col("n_total") * p_e6).alias("expected_e6"),
    )
    dev = F.col("n_obs") * F.lit(1000000).cast("long") - F.col("expected_e6")
    # chi-square contribution in DOUBLE: dev can reach ~n*1e6, whose
    # square overflows BIGINT at ~3e9 rows-per-group equivalents; the
    # double product of identical integers is correctly rounded on
    # both engines, so determinism is preserved
    dd = dev.cast("double")
    chi2 = F.round(dd * dd / F.col("expected_e6") / F.lit(1e6)).cast("long")
    return staged.select(
        *gs,
        "digit",
        "n_obs",
        "n_total",
        "expected_e6",
        dev.alias("deviation_e6"),
        chi2.alias("chi2_contrib_e6"),
    )


def concentration_report(
    df: DataFrame,
    group_cols: list[str],
    weight_int_col: str,
    id_col: str,
) -> DataFrame:
    """Concentration / inequality diagnostics per group: the Gini
    coefficient and the top-decile share of an integer-grid weight
    (revenue per customer, tokens per source, traffic per user) — the
    80/20 screens behind skew planning, revenue-risk review and
    corpus-balance decisions.

    Rank-based Gini: with x_(1) ≤ … ≤ x_(n) ascending,
    ``G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)``. Ranks are a
    deterministic total order (value, then ``id_col`` — ties never
    float between engines), Σ i·x and Σx are exact integers (bounded
    by n²·x̄ < 2⁶³ per group — trillions of rows per group before
    overflow at cent grain), and the final ratio is one
    correctly-rounded double op sequence exported in micro-units.
    Top-decile share: the largest ⌈n/10⌉ members' weight over the
    total, again via exact integers + one division.

    One key-partitioned window (rank + running count share the sort)
    and one groupBy. Negative weights are rejected semantically
    (Gini is defined for non-negative quantities): rows with x < 0
    raise no error but ARE counted — screen them out first.

    Output: group_cols + (n, total, gini_e6, top_decile_share_e6).
    """
    from pyspark.sql import Window

    gs = list(group_cols)
    x = F.col(weight_int_col).cast("long")
    base = df.select(*gs, x.alias("_x"), F.col(id_col).alias("_id"))
    wr = Window.partitionBy(*gs).orderBy("_x", "_id")
    wn = Window.partitionBy(*gs)
    ranked = base.select(
        *gs,
        "_x",
        F.row_number().over(wr).cast("long").alias("_rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("_n"),
    )
    k = F.expr("(_n + 9) div 10")
    top = F.when(F.col("_rn") > F.col("_n") - k, F.col("_x")).otherwise(
        F.lit(0).cast("long")
    )
    agg = ranked.groupBy(*gs).agg(
        F.max("_n").alias("n"),
        F.sum("_x").cast("long").alias("total"),
        F.sum(F.col("_rn") * F.col("_x")).cast("long").alias("_a"),
        F.sum(top).cast("long").alias("_top"),
    )
    nn = F.col("n")
    b = F.col("total")
    gini = (
        (2 * F.col("_a") - (nn + 1) * b).cast("double")
        / (nn.cast("double") * b)
        * 1e6
    )
    share = F.col("_top").cast("double") * 1e6 / b
    return agg.select(
        *gs,
        "n",
        "total",
        F.when(b > 0, F.round(gini).cast("long")).alias("gini_e6"),
        F.when(b > 0, F.round(share).cast("long")).alias(
            "top_decile_share_e6"
        ),
    )


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_int_col: str,
    lo: int,
    hi: int,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index — the standard production-ML drift
    screen between a reference window and a current window of one
    feature (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).

    Input contract: ``value_int_col`` is an INTEGER-GRID value
    (quantize currency to cents first) and the bucket GRID is fixed by
    the caller (lo/hi/bins) — data-derived edges would make the report
    non-reproducible across windows, which defeats a monitoring series.
    Buckets assign by exact integer arithmetic
    (``(v−lo)·bins DIV (hi−lo)``, clamped) — no float boundary
    knife-edges. Shares are Laplace-smoothed (+½ per bucket) so empty
    buckets contribute a finite, correct penalty instead of ±∞.

    Per bucket: n_ref, n_cur, the smoothed shares in micro-units
    (integer-numerator rounding) and the PSI contribution
    ``(p−q)·ln(p/q)`` rounded to 6 dp (ln is the one transcendental —
    6-dp exports of ln-based scores are proven cross-engine-stable by
    the DSIR family). Σ contribution = the headline PSI.

    Scale shape: two map-side-combinable groupBys onto a ≤bins-row
    dimension, one bins-row join — nothing data-sized past the first
    aggregation.
    """
    span = hi - lo
    if span <= 0 or bins <= 0:
        raise ValueError("need hi > lo and bins > 0")

    def counts(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_int_col).cast("long")
        # bucket by INTEGER DIV — a double divide rounds correctly AT
        # boundaries but can round a just-below-integer quotient UP to
        # the integer before truncation, off-by-one vs another engine
        # (the k-anonymity DIV lesson). Values below lo clamp to 0, so
        # the Spark-truncates / DuckDB-floors negative divergence is
        # clamped away too.
        num = ((v - F.lit(int(lo))) * F.lit(int(bins))).alias("_num")
        b = F.expr(
            f"int(least({bins - 1}, greatest(0, _num DIV {int(span)})))"
        )
        return (
            df.where(v.isNotNull())
            .select(num)
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    dim = ref.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bucket")
    )
    j = (
        dim.join(counts(ref, "n_ref"), "bucket", "left")
        .join(counts(cur, "n_cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    # window totals over the ≤bins-row grid: ONE lineage, so the two
    # count scans run once (a separate agg + crossJoin re-executed the
    # whole counts lineage — 4 fact scans for a 10-row report). The
    # unpartitioned window is bounded by bins, never by data.
    from pyspark.sql import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    jj = j.withColumn("_tr", F.sum("n_ref").over(wall)).withColumn(
        "_tc", F.sum("n_cur").over(wall)
    )
    # Laplace ½ smoothing via exact integer numerators: share =
    # (2n+1)/(2N+bins·1) on a doubled grid — both engines divide the
    # same exact integers
    p = (2 * F.col("n_ref") + 1).cast("double") / (
        (2 * F.col("_tr") + bins).cast("double")
    )
    q = (2 * F.col("n_cur") + 1).cast("double") / (
        (2 * F.col("_tc") + bins).cast("double")
    )
    contrib = (q - p) * (F.log(q) - F.log(p))
    # share exports multiply the integer numerator FIRST — round((a/b)·1e6)
    # and round(a·1e6/b) disagree by 1 when a·1e6/b lands exactly on .5
    # (e.g. a=1615, b=3200 → 504687.5; the pre-divided double is
    # ...7.49999999999994) and the oracle divides a·1e6/b
    # (review-confirmed counterexample)
    p_e6 = F.round(
        (2 * F.col("n_ref") + 1).cast("double")
        * F.lit(1e6)
        / ((2 * F.col("_tr") + bins).cast("double"))
    )
    q_e6 = F.round(
        (2 * F.col("n_cur") + 1).cast("double")
        * F.lit(1e6)
        / ((2 * F.col("_tc") + bins).cast("double"))
    )
    return jj.select(
        "bucket",
        "n_ref",
        "n_cur",
        p_e6.cast("long").alias("ref_share_e6"),
        q_e6.cast("long").alias("cur_share_e6"),
        (F.round(contrib, 6) + F.lit(0.0)).alias("psi_contrib"),
    )


def ks_two_sample(
    df1: DataFrame,
    df2: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance, distributed — the
    nonparametric distribution-shift test to pair with :func:`psi_report`
    (PSI needs a binning choice; KS is binning-free).

    D = max over the pooled values of |F̂₁(x) − F̂₂(x)|. The entire
    statistic is EXACT INTEGER arithmetic:
    ``D = max |c1(x)·n2 − c2(x)·n1| / (n1·n2)`` where c_i(x) is the
    running count of sample i at value x — so the result is
    engine-reproducible with no float comparisons anywhere (export in
    micro-units; bounded by n1·n2 < 2⁶³ up to ~3e9 rows per side).

    Scale shape — a global CDF WITHOUT a global window (the
    build_vocab / epoch_shuffle zipWithIndex pattern): per-value counts
    aggregate first (one shuffle), the counts range-repartition by
    value, each partition computes a local running sum, and
    per-partition offsets (ONE row per partition) shift them to global
    running counts. The only unpartitioned window runs over one row
    per partition. NULLs are excluded.

    Output: one row (n1, n2, d_num, d_e6).
    """
    from pyspark.sql import Window

    v1 = df1.select(F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    v2 = df2.select(F.col(value_col).alias("_v")).where(
        F.col("_v").isNotNull()
    )
    pooled = (
        v1.groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .join(
            v2.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("c2")),
            "_v",
            "full",
        )
        .select(
            "_v",
            F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
            F.coalesce("c2", F.lit(0)).cast("long").alias("c2"),
        )
    )
    return ks_from_counts(pooled)


def ks_from_counts(pooled: DataFrame) -> DataFrame:
    """KS distance from a prepared per-value count frame
    ``(_v, c1 long, c2 long)`` — the shared tail of
    :func:`ks_two_sample`. Callers whose two samples are FILTERS of one
    source build ``pooled`` with a single scan + one conditional-count
    groupBy (sum of 1-if-sample-i per value) instead of two scans, two
    shuffles and a full outer join; the per-value counts, and therefore
    the exact integer statistic, are identical. ``pooled`` must exclude
    NULL values and contain one row per distinct value."""
    from pyspark.sql import Window
    # pin: the keyed frame feeds both the offsets aggregate and the main
    # running-sum job; unpinned, spark_partition_id() evaluates twice on
    # a re-executed range shuffle (the epoch_shuffle lesson)
    keyed = (
        pooled.repartitionByRange(F.col("_v").asc())
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    offs = (
        keyed.groupBy("_pid")
        .agg(
            F.sum("c1").alias("_s1"),
            F.sum("c2").alias("_s2"),
        )
        .withColumn(
            "_o1",
            F.coalesce(
                F.sum("_s1").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "_o2",
            F.coalesce(
                F.sum("_s2").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_o1", "_o2")
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        keyed.withColumn("_r1", F.sum("c1").over(w_in))
        .withColumn("_r2", F.sum("c2").over(w_in))
        .join(F.broadcast(offs), "_pid")
        .select(
            (F.col("_r1") + F.col("_o1")).alias("cum1"),
            (F.col("_r2") + F.col("_o2")).alias("cum2"),
        )
    )
    # totals come from the checkpointed per-value counts — NOT from
    # max(cum) over `run`, which would re-execute the running-sum window
    # lineage a second time (review-caught: it doubled the most
    # expensive stage)
    tot = keyed.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum("c2"), F.lit(0)).cast("long").alias("n2"),
    )
    d = run.crossJoin(F.broadcast(tot)).agg(
        F.max(F.col("n1").cast("long")).alias("n1"),
        F.max(F.col("n2").cast("long")).alias("n2"),
        F.max(
            F.abs(
                F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
            )
        )
        .cast("long")
        .alias("d_num"),
    )
    # D is undefined for an empty sample: round(0/0 = NaN) casts to 0 in
    # Spark, which would read as "no drift" — export NULL instead
    # (review-caught)
    defined = (F.col("n1") > 0) & (F.col("n2") > 0)
    return d.select(
        F.coalesce(F.col("n1"), F.lit(0).cast("long")).alias("n1"),
        F.coalesce(F.col("n2"), F.lit(0).cast("long")).alias("n2"),
        F.when(defined, F.col("d_num")).alias("d_num"),
        F.when(
            defined,
            F.round(
                F.lit(1e6)
                * F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).cast("long"),
        ).alias("d_e6"),
    )
