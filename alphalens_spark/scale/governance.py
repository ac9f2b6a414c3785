"""Data-governance operators: re-identification risk, differentially
private release, and dependency-based quality checks.

The reference has no governance surface (SURVEY §2 extension); these are
the checks a pipeline runs before a dataset leaves its trust boundary —
"can rows be re-identified" (k-anonymity), "can aggregates be published"
(DP noisy counts), and "does the data still satisfy its invariants"
(functional-dependency violations, the structural sibling of
scale.profile.validate_expectations' row-level rules).

Everything is deterministic and engine-replayable: integer class-size
arithmetic, the shared 60-bit md5 uniform for noise, multiply-first
integer-grid percentages (the corpus_report lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint

__all__ = ["k_anonymity_sweep", "dp_noisy_counts", "fd_violations"]


def k_anonymity_sweep(
    df: DataFrame,
    qi_cols: list[str],
    k_thresholds: list[int] = (2, 5, 10),
) -> DataFrame:
    """Re-identification risk under a quasi-identifier set, swept over
    MULTIPLE k thresholds — the multi-k companion to
    scale.curation.k_anonymity_report's single-k screen (that one also
    ships suppression enforcement; this one reports the risk CURVE a
    release review reads): group rows
    into equivalence classes on ``qi_cols`` (rows indistinguishable on
    the QI attributes) and report, per requested k, how much of the
    table fails k-anonymity — a class of size < k means its members are
    re-identifiable among fewer than k candidates (Sweeney 2002).

    One groupBy on the QI dimension, then per-threshold 1-row
    aggregates over the class-size table (bounded by the QI domain,
    never row count). Percentages are multiply-first integer-grid
    (``round(rows·1e8/total)`` → BIGINT = percent on the 1e-6 grid).

    Output: one row per threshold — (k, n_rows, n_classes,
    min_class_size, n_classes_below, n_rows_below, pct_rows_below_e6).
    """
    # materialize the class-size table once: each threshold's 1-row
    # aggregate reads it, so the QI groupBy (the only data-sized stage)
    # runs once instead of once per threshold (PLANS.md caught the
    # 3-scan plan)
    classes = (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("_sz"))
        .transform(checkpoint)
    )
    rows = []
    for k in k_thresholds:
        below = F.col("_sz") < k
        rows.append(
            classes.agg(
                F.lit(int(k)).alias("k"),
                F.sum("_sz").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.min("_sz").cast("long").alias("min_class_size"),
                F.sum(below.cast("long")).cast("long").alias("n_classes_below"),
                F.sum(F.when(below, F.col("_sz")).otherwise(F.lit(0)))
                .cast("long")
                .alias("n_rows_below"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    pct = F.round(
        F.col("n_rows_below").cast("double") * 1e8 / F.col("n_rows")
    ).cast("long")
    return out.withColumn("pct_rows_below_e6", pct)


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: int = 7,
) -> DataFrame:
    """ε-differentially-private group counts via the Laplace mechanism
    (Dwork et al. TCC'06): count per group + Lap(1/ε) noise, the
    calibrated release for a counting query of sensitivity 1.

    The noise is DERIVED, not drawn: u = (60-bit md5 of the group key
    ‖ seed)/2^60 ∈ (0,1), then the inverse-CDF transform
    ``−(1/ε)·sign(u−½)·ln(1−2|u−½|)`` — deterministic per (group,
    seed), so the release replays bit-for-bit in SQL and is
    reproducible across reruns (the Efraimidis-Spirakis uniform
    convention). NOTE the privacy caveat this implies: a fixed seed
    answers the query ONCE; re-releasing with fresh seeds composes ε
    like any DP mechanism.

    One groupBy, one hash, one expression. Output: (group…, n_true,
    n_noisy) with n_noisy rounded to 6 dp.
    """
    from alphalens_spark.scale.dedup import md5_long

    # NULL-safe key: concat_ws silently DROPS null elements, which
    # would both collide distinct groups and diverge from the SQL
    # replay (where || propagates NULL) — encode NULL explicitly on
    # both engines (review finding)
    key = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in group_cols
        ],
        F.lit(str(seed)),
    )
    u = md5_long(key, 15).cast("double") / F.lit(float(1 << 60))
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / epsilon)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .select(
            *group_cols,
            "n_true",
            (F.round(F.col("n_true") + noise, 6) + F.lit(0.0)).alias("n_noisy"),
        )
    )


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency violation report: for each LHS value,
    does ``lhs_cols → rhs_col`` hold? A violating LHS maps to more
    than one RHS value; the report names the majority RHS (the repair
    candidate under minimal-change semantics, Bohannon et al. ICDE'05)
    and how many rows disagree with it — the structural data-quality
    check next to validate_expectations' row-level rules.

    Two groupBys (LHS×RHS counts, then LHS rollup via a max-struct
    majority pick with deterministic (count, value) tie-break — no
    window, no self-join). Output: lhs_cols… + (n_rows,
    n_distinct_rhs, majority_rhs, majority_count, violation_rows),
    violating LHS values only.
    """
    pair = df.groupBy(
        *lhs_cols, F.col(rhs_col).cast("string").alias("_rhs")
    ).agg(F.count(F.lit(1)).alias("_c"))
    agg = pair.groupBy(*lhs_cols).agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_rhs"),
        F.max(F.struct(F.col("_c").alias("c"), F.col("_rhs").alias("v"))).alias(
            "_top"
        ),
    )
    return (
        agg.where(F.col("n_distinct_rhs") > 1)
        .select(
            *lhs_cols,
            "n_rows",
            "n_distinct_rhs",
            F.col("_top.v").alias("majority_rhs"),
            F.col("_top.c").cast("long").alias("majority_count"),
            (F.col("n_rows") - F.col("_top.c")).cast("long").alias(
                "violation_rows"
            ),
        )
    )
