"""Tear-sheet batch drivers — the reference's orchestration layer.

Mirrors alphalens/tears.py: each "tear sheet" is a fixed DAG of metric
queries over one cached factor_data (ref tears.py:488-526 fans out to the
returns / information / turnover sub-sheets). Our sheets build every
metric as a lazy DataFrame, then collect the (tiny) aggregate tables to
pandas in one pass — the matplotlib layer of the reference could consume
these verbatim (SURVEY §3.2: final tables are small → toPandas()).

The reference's O(Q·P) loop of separate turnover passes (tears.py:443-452)
is replaced by the single grouped query of
:func:`alphalens_spark.performance.quantile_turnover`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from alphalens_spark import performance as perf
from alphalens_spark.utils import (
    get_forward_returns_columns,
    timedelta_strings_to_integers,
)


def _period_cols(factor_data: DataFrame) -> list[str]:
    return get_forward_returns_columns(factor_data.columns)


def create_returns_tear_sheet(
    factor_data: DataFrame,
    demeaned: bool = True,
    group_adjust: bool = False,
    collect: bool = True,
) -> dict:
    """Returns analysis (ref tears.py:178-344): factor returns, quantile
    means (aggregate + by-date), alpha/beta, top-bottom spread."""
    cols = _period_cols(factor_data)
    quants = factor_data.agg(
        perf.F.max("factor_quantile").alias("hi"), perf.F.min("factor_quantile").alias("lo")
    ).first()
    by_date = perf.mean_return_by_quantile(
        factor_data, cols, by_date=True, demeaned=demeaned, group_adjust=group_adjust
    )
    out = {
        "factor_returns": perf.factor_returns(factor_data, cols, demeaned, group_adjust),
        "mean_return_by_quantile": perf.mean_return_by_quantile(
            factor_data, cols, demeaned=demeaned, group_adjust=group_adjust
        ),
        "mean_return_by_quantile_by_date": by_date,
        "alpha_beta": perf.factor_alpha_beta(
            factor_data, cols, demeaned=demeaned, group_adjust=group_adjust
        ),
        "mean_returns_spread": perf.compute_mean_returns_spread(
            by_date, quants["hi"], quants["lo"], cols
        ),
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_information_tear_sheet(
    factor_data: DataFrame,
    group_adjust: bool = False,
    by_group: bool = False,
    collect: bool = True,
) -> dict:
    """Information analysis (ref tears.py:347-406): daily IC, IC summary
    stats, monthly mean IC heatmap table."""
    cols = _period_cols(factor_data)
    ic = perf.factor_information_coefficient(factor_data, cols, group_adjust, by_group=False)
    out = {
        "ic": ic,
        "ic_summary": perf.ic_summary(ic, cols),
        "mean_ic_monthly": perf.mean_information_coefficient(
            factor_data, cols, group_adjust, by_group=False, by_time="month"
        ),
    }
    if by_group:
        out["ic_by_group"] = perf.mean_information_coefficient(
            factor_data, cols, group_adjust, by_group=True
        )
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_turnover_tear_sheet(
    factor_data: DataFrame,
    periods: Sequence[int] | None = None,
    collect: bool = True,
) -> dict:
    """Turnover analysis (ref tears.py:409-485): per-quantile turnover and
    factor rank autocorrelation for every horizon."""
    if periods is None:
        periods = timedelta_strings_to_integers(_period_cols(factor_data))
    turnover = perf.quantile_turnover(factor_data, periods=periods)
    autocorr = None
    for p in periods:
        ac = perf.factor_rank_autocorrelation(factor_data, p)
        autocorr = ac if autocorr is None else autocorr.unionByName(ac)
    out = {
        "quantile_turnover": turnover,
        "turnover_summary": perf.turnover_summary(turnover),
        "rank_autocorrelation": autocorr,
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_full_tear_sheet(
    factor_data: DataFrame,
    demeaned: bool = True,
    group_adjust: bool = False,
    by_group: bool = False,
    collect: bool = True,
) -> dict:
    """Everything (ref tears.py:488-526). factor_data should be cached by
    the caller — every sub-sheet reuses it (SURVEY §3.1)."""
    out = {}
    out.update(create_returns_tear_sheet(factor_data, demeaned, group_adjust, collect))
    out.update(create_information_tear_sheet(factor_data, group_adjust, by_group, collect))
    out.update(create_turnover_tear_sheet(factor_data, collect=collect))
    return out


def create_summary_tear_sheet(factor_data: DataFrame, collect: bool = True) -> dict:
    """Cheaper subset (ref tears.py:61-175): quantile stats, aggregate
    quantile returns, IC summary, turnover summary."""
    cols = _period_cols(factor_data)
    ic = perf.factor_information_coefficient(factor_data, cols)
    out = {
        "quantile_stats": perf.quantile_statistics(factor_data),
        "mean_return_by_quantile": perf.mean_return_by_quantile(factor_data, cols),
        "ic_summary": perf.ic_summary(ic, cols),
        "turnover_summary": perf.turnover_summary(
            perf.quantile_turnover(factor_data, periods=(1,))
        ),
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_event_study_tear_sheet(
    factor_data: DataFrame,
    prices: DataFrame,
    avgretplot: tuple[int, int] = (5, 15),
    collect: bool = True,
) -> dict:
    """Event-study sheet (ref tears.py:635-732): event distribution per
    time bucket + unweighted (demeaned=False / equal-weight) returns
    analysis + average cumulative return paths."""
    cols = _period_cols(factor_data)
    dist = factor_data.groupBy(perf.F.date_trunc("month", "date").alias("month")).agg(
        perf.F.count(perf.F.lit(1)).alias("n_events")
    )
    out = {
        "event_distribution": dist,
        "avg_cumulative_returns": perf.average_cumulative_return_by_quantile(
            factor_data, prices, avgretplot[0], avgretplot[1], demeaned=False
        ),
        "mean_return_by_quantile": perf.mean_return_by_quantile(
            factor_data, cols, demeaned=False
        ),
        "factor_returns_equal_weight": perf.factor_returns(
            factor_data, cols, demeaned=False, equal_weight=True
        ),
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_event_returns_tear_sheet(
    factor_data: DataFrame,
    prices: DataFrame,
    avgretplot: tuple[int, int] = (5, 15),
    demeaned: bool = True,
    collect: bool = True,
) -> dict:
    """Event-study sheet (ref tears.py:529-632)."""
    before, after = avgretplot
    out = {
        "avg_cumulative_returns": perf.average_cumulative_return_by_quantile(
            factor_data, prices, before, after, demeaned=demeaned
        )
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out


def create_corpus_tear_sheet(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    collect: bool = True,
) -> dict:
    """Data-pipeline tear sheet — the corpus-side analogue of the factor
    tear sheets: one call returns the health views a training-mix
    decision reads.

    - ``report``: one-aggregation corpus screen (docs, tokens, dup
      mass, empties — scale.curation.corpus_report)
    - ``entropy``: distribution profile of source/lang columns
      (scale.profile.column_entropy)
    - ``top_terms``: corpus-wide TF-IDF keywords per document, top
      rows by score (scale.text.tfidf_top_terms)
    - ``cross_source_dups``: 8-gram shingle duplication matrix between
      sources (scale.dedup.cross_source_dup_matrix)
    - ``quality``: per-document quality rubric summary (mean rubric
      score per source)

    Each view is an independent job chain over the same table; with
    ``collect=False`` the lazy DataFrames return for the caller to
    schedule (they share the scan via cache if persisted).
    """
    from pyspark.sql import functions as F

    from alphalens_spark.scale.curation import corpus_report
    from alphalens_spark.scale.dedup import _tokens, cross_source_dup_matrix
    from alphalens_spark.scale.profile import column_entropy
    from alphalens_spark.scale.text import quality_score, tfidf_top_terms

    toks = _tokens(text_col)
    k = 8
    shingles = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    units = docs.select(source_col, F.explode(shingles).alias("g"))
    quality = (
        quality_score(docs, text_col, id_col)
        .join(docs.select(id_col, source_col), id_col)
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("mean_quality"),
            F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        )
    )
    out = {
        "report": corpus_report(docs),
        "entropy": column_entropy(docs, [source_col, "lang"]),
        "top_terms": tfidf_top_terms(docs, n_top=3),
        "cross_source_dups": cross_source_dup_matrix(
            units, source_col=source_col, text_col="g"
        ),
        "quality": quality,
    }
    return {k: v.toPandas() for k, v in out.items()} if collect else out
