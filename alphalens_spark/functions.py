"""Public Column-expression namespace — the engine's reusable scalar
builders in one import, the way ``pyspark.sql.functions`` collects
Spark's.

Everything here is a *pure Column expression factory* (JVM-evaluated,
whole-stage-codegen'd, no Python on executors) re-exported from the
module that owns it, so `from alphalens_spark import functions as AF`
gives pipelines the engine's vocabulary without reaching into
implementation modules:

    AF.md5_long(F.col("text"))           60-bit engine-reproducible hash
    AF.tokens("text")                    whitespace token array (lowered)
    AF.words("text") / AF.nonempty_lines("text")
    AF.cosine(F.col("a"), F.col("b"))    embedding cosine similarity
    AF.dot(F.col("a"), F.col("b"))
    AF.decay_weight("ts", "t_max", 24.0) half-life recency weight
    AF.bps(F.col("ret"))                 return → basis points

Determinism note: md5_long is the hash every oracle-checked operator
builds on (identical in DuckDB as ``('0x' || substr(md5(x),1,15))
::BIGINT``); prefer it over xxhash64 wherever cross-engine
reproducibility matters more than the last ns of speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from alphalens_spark.scale.curation import _nonempty_lines as nonempty_lines
from alphalens_spark.scale.dedup import _tokens as tokens
from alphalens_spark.scale.dedup import _tokens as words
from alphalens_spark.scale.dedup import md5_long

__all__ = [
    "md5_long",
    "tokens",
    "words",
    "nonempty_lines",
    "dot",
    "cosine",
    "decay_weight",
    "bps",
    "zscore_bounds",
    "normalize_record_text",
    "shingles",
    "hash_bucket",
]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array columns (interpreted HOF —
    fine for scoring joins; batch-vectorize with the mapInPandas forms in
    scale.similarity when it is the per-row hot path)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns; NULL when either norm is 0."""
    na = F.sqrt(dot(a, a))
    nb = F.sqrt(dot(b, b))
    return F.try_divide(dot(a, b), na * nb)


def decay_weight(ts: Column | str, t_ref: Column | str, half_life_hours: float) -> Column:
    """Half-life recency weight 2^(−age/half_life) with µs-exact ages
    (SECOND-granularity diffs diverge across engines; see
    events.decayed_activity)."""
    t = F.col(ts) if isinstance(ts, str) else ts
    r = F.col(t_ref) if isinstance(t_ref, str) else t_ref
    age_us = F.try_subtract(F.unix_micros(r.cast("timestamp")),
                            F.unix_micros(t.cast("timestamp"))).cast("double")
    return F.pow(F.lit(0.5), age_us / F.lit(half_life_hours * 3600.0 * 1e6))


def bps(ret: Column) -> Column:
    """Decimal return → basis points (the reference's display scaling)."""
    return ret * F.lit(10_000.0)


def zscore_bounds(mean: Column, std: Column, z: float) -> tuple[Column, Column]:
    """(lower, upper) clip bounds at ``z`` standard deviations — the
    filter_zscore / anomaly-threshold helper."""
    return mean - F.lit(float(z)) * std, mean + F.lit(float(z)) * std


def normalize_record_text(col: str | Column) -> Column:
    """Record-linkage canonical normalization (lower, trim, collapse
    whitespace) — re-export of scale.linkage.normalize_record."""
    from alphalens_spark.scale.linkage import normalize_record

    return normalize_record(col)


def shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-gram shingle array (the dedup family's unit) —
    re-export of scale.dedup._shingles."""
    from alphalens_spark.scale.dedup import _shingles

    return _shingles(text_col, k)


def hash_bucket(col: Column, n: int) -> Column:
    """Deterministic engine-reproducible bucket assignment
    md5_long(x) % n — the A/B-assignment / sharding expression
    (events.ab_test_ztest's contract)."""
    return F.pmod(md5_long(col.cast("string"), 15), F.lit(n)).cast("int")
