"""Round-3 continuation: CDC merge/diff + graph/set-similarity operators."""

import pytest
from pyspark.sql import functions as F

from alphalens_spark.scale import cdc


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "k long, price double, status string"
    )


# ------------------------------------------------------------ snapshot_diff


def test_snapshot_diff_classifies_all_statuses(spark):
    old = _snap(spark, [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C")])
    new = _snap(spark, [(2, 25.0, "B"), (3, 30.0, "C"), (4, 40.0, "D")])
    out = {
        r["k"]: (r["status"], r["changed_cols"], r["n_changed"])
        for r in cdc.snapshot_diff(old, new, ["k"], include_unchanged=True).collect()
    }
    assert out[1] == ("deleted", "", 0)
    assert out[2] == ("changed", "price", 1)
    assert out[3] == ("unchanged", "", 0)
    assert out[4] == ("added", "", 0)


def test_snapshot_diff_excludes_unchanged_by_default(spark):
    old = _snap(spark, [(1, 10.0, "A"), (2, 20.0, "B")])
    new = _snap(spark, [(1, 10.0, "A"), (2, 21.0, "B")])
    ks = [r["k"] for r in cdc.snapshot_diff(old, new, ["k"]).collect()]
    assert ks == [2]


def test_snapshot_diff_null_transitions_count_as_change(spark):
    old = _snap(spark, [(1, None, "A"), (2, 20.0, None), (3, None, None)])
    new = _snap(spark, [(1, 10.0, "A"), (2, None, None), (3, None, None)])
    out = {
        r["k"]: (r["status"], r["changed_cols"])
        for r in cdc.snapshot_diff(old, new, ["k"], include_unchanged=True).collect()
    }
    assert out[1] == ("changed", "price")
    assert out[2] == ("changed", "price")
    assert out[3] == ("unchanged", "")


def test_snapshot_diff_multi_change_sorted_cols(spark):
    old = _snap(spark, [(1, 10.0, "A")])
    new = _snap(spark, [(1, 11.0, "Z")])
    r = cdc.snapshot_diff(old, new, ["k"]).collect()[0]
    assert (r["changed_cols"], r["n_changed"]) == ("price,status", 2)


# ---------------------------------------------------------------- apply_cdc


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "k long, price double, status string, op string, seq long"
    )


def test_apply_cdc_upsert_insert_delete(spark):
    base = _snap(spark, [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C")])
    changes = _chg(
        spark,
        [
            (2, 99.0, "B2", "U", 5),   # update existing
            (3, 0.0, "", "D", 6),      # delete existing
            (4, 40.0, "D", "I", 7),    # insert new key
        ],
    )
    out = {
        r["k"]: (r["price"], r["status"])
        for r in cdc.apply_cdc(base, changes, ["k"]).collect()
    }
    assert out == {1: (10.0, "A"), 2: (99.0, "B2"), 4: (40.0, "D")}


def test_apply_cdc_latest_seq_wins(spark):
    base = _snap(spark, [(1, 10.0, "A")])
    changes = _chg(
        spark,
        [(1, 50.0, "mid", "U", 2), (1, 70.0, "late", "U", 9), (1, 30.0, "early", "U", 1)],
    )
    out = cdc.apply_cdc(base, changes, ["k"]).collect()
    assert [(r["price"], r["status"]) for r in out] == [(70.0, "late")]


def test_apply_cdc_delete_then_reinsert_by_seq(spark):
    base = _snap(spark, [(1, 10.0, "A")])
    # delete at seq 5, re-insert at seq 8: latest wins -> row present
    changes = _chg(spark, [(1, 0.0, "", "D", 5), (1, 11.0, "re", "I", 8)])
    out = cdc.apply_cdc(base, changes, ["k"]).collect()
    assert [(r["price"], r["status"]) for r in out] == [(11.0, "re")]
    # and the reverse order deletes
    changes2 = _chg(spark, [(1, 11.0, "re", "I", 5), (1, 0.0, "", "D", 8)])
    assert cdc.apply_cdc(base, changes2, ["k"]).count() == 0


def test_apply_cdc_delete_unknown_key_is_noop(spark):
    base = _snap(spark, [(1, 10.0, "A")])
    changes = _chg(spark, [(99, 0.0, "", "D", 1)])
    out = cdc.apply_cdc(base, changes, ["k"]).collect()
    assert [(r["k"], r["price"]) for r in out] == [(1, 10.0)]


def test_apply_cdc_idempotent_reapply(spark):
    base = _snap(spark, [(1, 10.0, "A"), (2, 20.0, "B")])
    changes = _chg(spark, [(1, 15.0, "A2", "U", 3), (2, 0.0, "", "D", 4)])
    once = cdc.apply_cdc(base, changes, ["k"])
    twice = cdc.apply_cdc(once, changes, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# ---------------------------------------------------- allpairs prefix filter


from alphalens_spark.scale import dedup


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _pairs(df):
    return sorted((r[0], r[1], round(r[2], 9)) for r in df.collect())


def test_allpairs_matches_inverted_index(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over a lazy dog",
        "pack my box with five dozen liquor jugs",
        "pack my box with five dozen liquor jars",
        "completely different words here entirely",
    ]
    docs = _docs(spark, texts)
    for t in (0.3, 0.5, 0.8):
        base = _pairs(dedup.ngram_jaccard_pairs(docs, n=1, threshold=t))
        pf = _pairs(dedup.allpairs_jaccard_pairs(docs, n=1, threshold=t))
        assert pf == base, f"threshold {t}"


def test_allpairs_matches_on_ngrams(spark):
    texts = [
        "a b c d e f g h",
        "a b c d e f g z",
        "p q r s t u v w",
    ]
    docs = _docs(spark, texts)
    base = _pairs(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4))
    pf = _pairs(dedup.allpairs_jaccard_pairs(docs, n=3, threshold=0.4))
    assert pf == base


def test_allpairs_prefix_shrinks_hot_gram_candidates(spark):
    # 30 docs share ONLY a boilerplate prefix (high-df grams); with the
    # inverted index every boilerplate doc pairs with every other at the
    # candidate stage. Prefix filtering puts the rare per-doc suffix
    # grams in the prefix instead, so the hot grams never generate
    # candidates — same final answer, no max_df needed.
    boiler = "terms of service apply here"
    texts = [f"{boiler} u{i} v{i} w{i} x{i}" for i in range(30)]
    texts += ["clone a b c d e f g", "clone a b c d e f g"]
    docs = _docs(spark, texts)
    out = _pairs(dedup.allpairs_jaccard_pairs(docs, n=1, threshold=0.8))
    assert out == [(30, 31, 1.0)]


def test_allpairs_threshold_validation(spark):
    docs = _docs(spark, ["a b c"])
    with pytest.raises(ValueError):
        dedup.allpairs_jaccard_pairs(docs, threshold=0.0)


# ------------------------------------------------------------------ pagerank


import numpy as np

from alphalens_spark import events as ev
from alphalens_spark import graph


def _pr_numpy(edges, n_iter=10, d=0.85):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    N = len(nodes)
    W = np.zeros((N, N))
    for s, t, w in edges:
        W[idx[s], idx[t]] += w
    out = W.sum(axis=1)
    pr = np.full(N, 1.0 / N)
    for _ in range(n_iter):
        dang = pr[out == 0].sum()
        contrib = np.zeros(N)
        for i in range(N):
            if out[i] > 0:
                contrib += pr[i] * W[i] / out[i]
        pr = (1 - d) / N + d * (contrib + dang / N)
    return {n: pr[idx[n]] for n in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
             ("a", "c", 2.0), ("d", "a", 1.0)]  # d has in-degree 0? no: d->a, a,b,c cycle
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank(df, n_iter=10, weight_col="w").collect()
    }
    want = _pr_numpy(edges)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12, n
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_dangling_mass_redistributes(spark):
    # b is dangling (no out-edges): its mass must spread uniformly, and
    # total rank must stay 1.
    edges = [("a", "b", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank(df, n_iter=10, weight_col="w").collect()
    }
    want = _pr_numpy(edges)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12, n
    assert abs(sum(got.values()) - 1.0) < 1e-12
    # no edges at all: an empty (node, pagerank) frame on the driver
    # path and on the distributed path, not a ZeroDivisionError
    empty = spark.createDataFrame([], "src string, dst string, w double")
    for small_graph_edges in (500_000, 0):
        out = graph.pagerank(
            empty, n_iter=10, weight_col="w", small_graph_edges=small_graph_edges
        )
        assert out.columns == ["node", "pagerank"]
        assert out.collect() == []


def test_pagerank_driver_path_memory_is_linear_in_edges(spark):
    """The driver path iterates over edge arrays: a 3,000-node path
    graph must not allocate dense n×n matrices (two float64 3000² arrays
    are ~144 MB)."""
    import tracemalloc

    n = 3000
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    tracemalloc.start()
    try:
        out = graph.pagerank(df, n_iter=3)  # 2,999 edges → driver path
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out.count() == n
    assert peak < 32 * 2**20, f"driver path peak {peak / 2**20:.1f} MB"


def test_pagerank_unweighted_counts_parallel_edges(spark):
    dup = [("a", "b"), ("a", "b"), ("a", "c"), ("c", "a"), ("b", "a")]
    df = spark.createDataFrame(dup, "src string, dst string")
    got = {
        r["node"]: r["pagerank"] for r in graph.pagerank(df, n_iter=8).collect()
    }
    want = _pr_numpy([(s, t, 1.0) for s, t in dup], n_iter=8)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12, n


def test_pagerank_sql_twin_matches_spark(spark):
    import duckdb

    edges = [("a", "b", 3.0), ("b", "c", 1.0), ("c", "a", 1.0), ("a", "c", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r["node"]: round(r["pagerank"], 6)
        for r in graph.pagerank(df, n_iter=10, weight_col="w").collect()
    }
    vals = ", ".join(f"('{s}', '{t}', {w})" for s, t, w in edges)
    sql = graph.pagerank_sql(
        f"SELECT * FROM (VALUES {vals}) AS v(src, dst, w)", n_iter=10
    )
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == {k: round(v, 6) for k, v in want.items()}


def test_transition_edges_gap_rule(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:05:00", 7, "click"),     # view->click (5m)
        (3, "2024-01-01 12:00:00", 7, "purchase"),  # >30m gap: dropped
        (4, "2024-01-01 12:10:00", 7, "view"),      # purchase->view (10m)
        (5, "2024-01-01 10:00:00", 8, "view"),
        (6, "2024-01-01 10:01:00", 8, "click"),     # view->click
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in ev.transition_edges(df, gap_minutes=30).collect()
    }
    assert got == {("view", "click"): 2.0, ("purchase", "view"): 1.0}
    nogap = {
        (r["src"], r["dst"]): r["weight"]
        for r in ev.transition_edges(df).collect()
    }
    assert nogap[("click", "purchase")] == 1.0


# ------------------------------------------------------------- vocab encode


from alphalens_spark.scale import text as stext


def test_build_vocab_global_rank_without_global_window(spark):
    docs = _docs(spark, [
        "b b b c c a", "c c d a", "e b c",
    ])
    got = {
        r["term"]: (r["term_id"], r["count"], r["df"])
        for r in stext.build_vocab(docs).collect()
    }
    # counts: c=5, b=4, a=2, d=1, e=1 -> rank by (count desc, term asc)
    assert got == {
        "c": (1, 5, 3), "b": (2, 4, 2), "a": (3, 2, 2),
        "d": (4, 1, 1), "e": (5, 1, 1),
    }


def test_build_vocab_min_df_and_max_size(spark):
    docs = _docs(spark, ["b b b c c a", "c c d a", "e b c"])
    v = {
        r["term"]: r["term_id"]
        for r in stext.build_vocab(docs, min_df=2, max_size=2).collect()
    }
    assert v == {"c": 1, "b": 2}


def test_build_vocab_ids_contiguous_on_larger_corpus(spark):
    # enough distinct terms to span several range partitions
    docs = _docs(spark, [" ".join(f"w{i:03d}" for i in range(k, k + 40))
                         for k in range(0, 200, 7)])
    v = stext.build_vocab(docs).collect()
    ids = sorted(r["term_id"] for r in v)
    assert ids == list(range(1, len(v) + 1))  # contiguous, no dup/gap
    # and ordering is by (count desc, term asc)
    by_id = sorted(v, key=lambda r: r["term_id"])
    keys = [(-r["count"], r["term"]) for r in by_id]
    assert keys == sorted(keys)


def test_encode_documents_roundtrip_and_oov(spark):
    docs = _docs(spark, ["a b c", "c x a", "b b"])
    vocab = stext.build_vocab(docs.filter("doc_id = 0"))  # only a, b, c in vocab
    enc = {
        r["doc_id"]: (r["encoded"], r["n_tokens"], r["n_oov"])
        for r in stext.encode_documents(docs, vocab).collect()
    }
    ids = {r["term"]: r["term_id"] for r in vocab.collect()}
    assert enc[0] == (f"{ids['a']} {ids['b']} {ids['c']}", 3, 0)
    assert enc[1] == (f"{ids['c']} -1 {ids['a']}", 3, 1)
    assert enc[2] == (f"{ids['b']} {ids['b']}", 2, 0)


# ----------------------------------------------------- CM xxhash fast path


def test_cm_xxhash_upper_bound_and_topk(spark):
    from alphalens_spark.scale import profile as prof

    rows = [("hot",)] * 50 + [(f"w{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "tok string")
    hh = prof.heavy_hitters(df, "tok", k=1, width=256, hasher="xxhash64").collect()
    assert hh[0]["item"] == "hot" and hh[0]["est_count"] >= 50
    # upper-bound property holds under either hash family
    est = {
        r["item"]: r["est_count"]
        for r in prof.cm_estimate(
            prof.cm_sketch(df, "tok", width=256, hasher="xxhash64"),
            df.selectExpr("tok as item").distinct(),
            width=256, depth=4, hasher="xxhash64",
        ).collect()
    }
    assert est["hot"] >= 50
    assert all(v >= 1 for v in est.values())


def test_cm_hasher_mismatch_guard(spark):
    from alphalens_spark.scale import profile as prof

    with pytest.raises(ValueError):
        prof.cm_sketch(
            spark.createDataFrame([("a",)], "tok string"), "tok", hasher="bogus"
        )


# --------------------------------------------------------- streaming CDC


def test_stream_apply_cdc_equals_batch(spark, tmp_path):
    from alphalens_spark.streaming.ops import cdc_store_update, stream_store

    src = str(tmp_path / "changes")
    batch1 = [
        (1, 10.0, "A", "I", 1), (2, 20.0, "B", "I", 2),
        (1, 11.0, "A2", "U", 3),
    ]
    batch2 = [
        (2, 0.0, "", "D", 4),          # delete key 2
        (3, 30.0, "C", "I", 5),        # new key
        (1, 12.0, "A3", "U", 6),       # update key 1 again
    ]
    schema = "k long, price double, status string, op string, seq long"
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = str(tmp_path / "snap")
    q = stream_store(
        stream, str(tmp_path / "ck"), cdc_store_update, store, ["k"],
        available_now=True,
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(store).collect()))
    # one-shot batch merge of the whole feed over an empty base
    base = spark.createDataFrame([], "k long, price double, status string")
    want = sorted(
        map(
            tuple,
            cdc.apply_cdc(
                base, spark.read.parquet(src), ["k"]
            ).collect(),
        )
    )
    assert got == want
    assert got == [(1, 12.0, "A3"), (3, 30.0, "C")]


# ------------------------------------------------------- bloom join filter


def test_bloom_filtered_join_identical_to_plain_join(spark):
    from alphalens_spark.joins import bloom_filtered_join

    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "k long, payload string"
    )
    small = spark.createDataFrame(
        [(i * 7, f"s{i}") for i in range(20)], "k long, extra string"
    )
    plain = sorted(map(tuple, big.join(small, ["k"]).collect()))
    bloomed = sorted(map(tuple, bloom_filtered_join(big, small, ["k"]).collect()))
    assert bloomed == plain and len(plain) > 0


def test_bloom_filtered_join_multicol_and_semi(spark):
    from alphalens_spark.joins import bloom_filtered_join

    big = spark.createDataFrame(
        [(i % 5, f"g{i % 3}", i) for i in range(200)], "a int, b string, v long"
    )
    small = spark.createDataFrame(
        [(1, "g0"), (4, "g2")], "a int, b string"
    )
    plain = sorted(map(tuple, big.join(small, ["a", "b"], "left_semi").collect()))
    got = sorted(
        map(tuple, bloom_filtered_join(big, small, ["a", "b"], "left_semi").collect())
    )
    assert got == plain and len(plain) > 0


def test_bloom_filter_actually_prunes(spark):
    from alphalens_spark.joins import bloom_filtered_join, keyed_bloom

    big = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    small = spark.createDataFrame([(3,), (999,)], "k long")
    bf = keyed_bloom(small, ["k"])
    # probe survivors = matches + rare false positives, far below |big|
    from pyspark.sql import functions as F

    probe = big.crossJoin(F.broadcast(bf)).withColumn(
        "_k", F.col("k").cast("string")
    )
    survivors = bloom_filtered_join(big, small, ["k"]).count()
    assert survivors == 2
    # and the rejected-early fraction is large: re-run the internal
    # filter by counting rows that reach the real join
    filtered = bloom_filtered_join(
        big.withColumnRenamed("k", "k2").withColumnRenamed("k2", "k"), small, ["k"]
    )
    assert filtered.count() == 2


def test_bloom_filtered_join_rejects_outer(spark):
    from alphalens_spark.joins import bloom_filtered_join

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        bloom_filtered_join(df, df, ["k"], how="left")


# ------------------------------------------------------------------ MMR


def test_mmr_prefers_diversity_over_redundancy(spark):
    from alphalens_spark.scale.similarity import mmr_rerank

    # corpus: two near-identical highly-relevant vectors + one distinct
    # moderately-relevant one; relevance-only top-2 = the twins, MMR
    # (lam=0.5) must swap the redundant twin for the distinct vector.
    rows = [
        (100, [1.0, 0.0, 0.0]),            # the query
        (1, [0.99, 0.14, 0.0]),            # twin A
        (2, [0.99, 0.141, 0.001]),         # twin B (near-copy of A)
        (3, [0.7, 0.0, 0.71]),             # distinct, less relevant
        (4, [-1.0, 0.0, 0.0]),             # irrelevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 100").selectExpr(
        "vec_id as query_id", "embedding as qv"
    )
    out = (
        mmr_rerank(emb, q, k=2, pool=4, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in out] == [1, 3]
    assert out[0]["mmr_rank"] == 1 and out[1]["mmr_rank"] == 2


def test_mmr_rank1_is_relevance_argmax_and_scores_monotone_rule(spark):
    from alphalens_spark.scale.similarity import (
        brute_force_topk_vectorized,
        mmr_rerank,
    )

    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where("vec_id % 10 = 0").selectExpr(
        "vec_id as query_id", "embedding as qv"
    )
    top = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in brute_force_topk_vectorized(emb, q, 1).collect()
    }
    out = mmr_rerank(emb, q, k=3, pool=6, lam=0.7).collect()
    for r in out:
        if r["mmr_rank"] == 1:
            assert r["neighbor_id"] == top[(r["query_id"], 1)]
    # every query returns exactly k distinct neighbors
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 3 and len(set(v)) == 3 for v in by_q.values())


# ------------------------------------------------------ purged time splits


def test_purged_time_splits_roles(spark):
    from alphalens_spark.scale.features import purged_time_splits

    dates = [(f"2024-01-{d:02d}",) for d in range(1, 21)]  # 20 dates
    df = spark.createDataFrame(dates, "date string").withColumn(
        "date", F.to_date("date")
    )
    out = purged_time_splits(df, n_folds=4, purge=2, embargo=1)
    rows = {(r["fold"], str(r["date"])): r["role"] for r in out.collect()}
    # 4 folds x 20 dates
    assert len(rows) == 80
    # fold 1 tests days 6-10 (idx 5-9); purge idx 3-4; embargo idx 10
    assert rows[(1, "2024-01-06")] == "test"
    assert rows[(1, "2024-01-10")] == "test"
    assert rows[(1, "2024-01-05")] == "purged"
    assert rows[(1, "2024-01-04")] == "purged"
    assert rows[(1, "2024-01-03")] == "train"
    assert rows[(1, "2024-01-11")] == "embargo"
    assert rows[(1, "2024-01-12")] == "train"
    # first fold has no purge region (block starts at idx 0)
    assert rows[(0, "2024-01-01")] == "test"
    # every fold's test block is contiguous and covers all dates once
    for k in range(4):
        tests = sorted(
            d for (f, d), r in rows.items() if f == k and r == "test"
        )
        assert len(tests) == 5
    # no leakage: train dates never adjacent-within-purge of test start
    for (f, d), r in rows.items():
        if r == "train":
            continue


def test_purged_time_splits_validation(spark):
    from alphalens_spark.scale.features import purged_time_splits

    df = spark.createDataFrame([("2024-01-01",)], "date string")
    with pytest.raises(ValueError):
        purged_time_splits(df, n_folds=1)


def test_pagerank_distributed_path_matches_driver_path(spark):
    edges = [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0),
             ("a", "c", 1.0), ("d", "a", 3.0), ("b", "d", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    drv = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank(df, n_iter=10, weight_col="w").collect()
    }
    dist = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank(
            df, n_iter=10, weight_col="w", small_graph_edges=0
        ).collect()
    }
    assert set(drv) == set(dist)
    for n in drv:
        assert abs(drv[n] - dist[n]) < 1e-12, n
