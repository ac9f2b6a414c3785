"""Round-3 third-session operators: triangle counting, record linkage,
market-basket affinity."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from alphalens_spark import graph
from alphalens_spark.scale import affinity, linkage


# ---------------------------------------------------------------- triangles


def _brute_triangles(edges):
    """Per-node triangle counts by literal enumeration (driver-side)."""
    und = set()
    for u, v in edges:
        if u != v:
            und.add((min(u, v), max(u, v)))
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    deg = {n: len(adj[n]) for n in adj}
    return tri, deg


def test_triangle_count_k4(spark):
    # K4: every node is in C(3,2)=3 triangles, clustering 1.0.
    edges = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r for r in graph.triangle_count(df).collect()}
    assert set(got) == {0, 1, 2, 3}
    for n in got:
        assert got[n]["triangles"] == 3
        assert got[n]["degree"] == 3
        assert got[n]["clustering"] == 1.0


def test_triangle_count_random_vs_brute(spark):
    rng = random.Random(7)
    nodes = list(range(40))
    edges = set()
    while len(edges) < 160:
        u, v = rng.sample(nodes, 2)
        edges.add((u, v))
    edges = sorted(edges)
    # include direction duplicates + self loops: must collapse
    noisy = edges + [(v, u) for u, v in edges[:30]] + [(5, 5), (9, 9)]
    df = spark.createDataFrame(noisy, "src int, dst int")
    got = {r["node"]: r for r in graph.triangle_count(df).collect()}
    tri, deg = _brute_triangles(edges)
    assert set(got) == set(tri)
    for n in tri:
        assert got[n]["triangles"] == tri[n], n
        assert got[n]["degree"] == deg[n], n
        if deg[n] >= 2:
            expect = round(2.0 * tri[n] / (deg[n] * (deg[n] - 1)), 6)
            assert got[n]["clustering"] == pytest.approx(expect)


def test_triangle_count_no_triangles(spark):
    # a path graph has zero triangles
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src int, dst int"
    )
    rows = graph.triangle_count(df).collect()
    assert all(r["triangles"] == 0 for r in rows)
    assert all(r["clustering"] == 0.0 for r in rows)


# ------------------------------------------------------------- record linkage


LINK_ROWS = [
    (1, "Acme Widgets Inc"),
    (2, "ACME  widgets inc"),       # normalizes to distance 0 of row 1
    (3, "Acme Widget Co"),          # distance 4 from "acme widgets inc"
    (4, "Globex Corporation"),
    (5, "Globex Corpration"),       # typo, distance 1
    (6, "Initech"),                 # shares no token with anyone
]


def test_record_linkage_basic(spark):
    df = spark.createDataFrame(LINK_ROWS, "id int, name string")
    out = linkage.record_linkage_pairs(
        df, "id", "name", max_distance=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in out}
    assert got[(1, 2)] == 0
    assert got[(4, 5)] == 1
    assert (1, 3) not in got  # distance 4 > threshold
    assert all(6 not in k for k in got)


def test_record_linkage_distance_threshold(spark):
    df = spark.createDataFrame(LINK_ROWS, "id int, name string")
    out = linkage.record_linkage_pairs(
        df, "id", "name", max_distance=4
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in out}
    assert got[(1, 3)] == 4
    assert got[(2, 3)] == 4


def test_record_linkage_max_df_drops_hot_token(spark):
    # every record shares token "co"; with max_df=2 that block vanishes
    rows = [(i, f"co name{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id int, name string")
    # without cap: "co" blocks all 45 pairs as candidates (distance 1-2
    # between consecutive single-digit names)
    uncapped = linkage.record_linkage_pairs(df, "id", "name", max_distance=1)
    assert uncapped.count() > 0
    capped = linkage.record_linkage_pairs(
        df, "id", "name", max_distance=1, max_df=2
    )
    # nameN tokens are all distinct -> no blocks survive
    assert capped.count() == 0


def test_record_linkage_block_expr(spark):
    df = spark.createDataFrame(LINK_ROWS, "id int, name string")
    out = linkage.record_linkage_pairs(
        df,
        "id",
        "name",
        max_distance=2,
        block_expr=F.substring(F.lower(F.trim(F.col("name"))), 1, 3),
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got and (4, 5) in got


def test_blocking_stats_pair_volume(spark):
    df = spark.createDataFrame(LINK_ROWS, "id int, name string")
    stats = {
        r["block_key"]: (r["n_records"], r["n_pairs"])
        for r in linkage.blocking_stats(df, "id", "name").collect()
    }
    assert stats["acme"] == (3, 3)
    assert stats["widgets"] == (2, 1)
    assert stats["globex"] == (2, 1)
    assert stats["initech"] == (1, 0)


# ------------------------------------------------------------------ affinity


BASKETS = [
    # basket, item
    (1, "a"), (1, "b"), (1, "c"),
    (2, "a"), (2, "b"),
    (3, "a"), (3, "c"),
    (4, "b"), (4, "c"),
    (5, "a"),
    (5, "a"),  # duplicate line: must count once
]


def test_cooccurrence_counts(spark):
    df = spark.createDataFrame(BASKETS, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in affinity.cooccurrence_pairs(df, "basket", "item").collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 2}


def test_association_rules_values(spark):
    df = spark.createDataFrame(BASKETS, "basket int, item string")
    out = affinity.association_rules(df, "basket", "item").collect()
    got = {(r["antecedent"], r["consequent"]): r for r in out}
    # supports: a in 4 baskets, b in 3, c in 3, total 5 baskets
    r = got[("a", "b")]
    assert r["pair_baskets"] == 2
    assert r["support"] == pytest.approx(2 / 5)
    assert r["confidence"] == pytest.approx(2 / 4)
    assert r["lift"] == pytest.approx((2 / 4) / (3 / 5))
    r = got[("b", "a")]
    assert r["confidence"] == pytest.approx(2 / 3)
    assert r["lift"] == pytest.approx((2 / 3) / (4 / 5))
    # both directions present for every pair
    assert len(out) == 6


def test_association_rules_thresholds(spark):
    df = spark.createDataFrame(BASKETS, "basket int, item string")
    out = affinity.association_rules(
        df, "basket", "item", min_confidence=0.6
    ).collect()
    assert all(r["confidence"] >= 0.6 for r in out)
    assert {(r["antecedent"], r["consequent"]) for r in out} == {
        ("b", "a"), ("c", "a"), ("b", "c"), ("c", "b"),
    }


def test_max_basket_guard(spark):
    rows = BASKETS + [(9, x) for x in "abcdefghij"]  # one 10-item basket
    df = spark.createDataFrame(rows, "basket int, item string")
    full = affinity.cooccurrence_pairs(df, "basket", "item")
    assert full.count() > 3  # the big basket adds 45 pairs
    guarded = affinity.cooccurrence_pairs(
        df, "basket", "item", max_basket=5
    )
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"] for r in guarded.collect()
    }
    # big basket dropped entirely -> identical to the small corpus
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 2}


def test_cooccurrence_store_incremental_equals_oneshot(spark, tmp_path):
    from alphalens_spark.scale.affinity import cooccurrence_pairs
    from alphalens_spark.streaming.ops import cooccurrence_store_update

    df = spark.createDataFrame(BASKETS, "basket int, item string")
    store = str(tmp_path / "cooc")
    # basket-complete splits (the documented contract): baskets 1-2,
    # then 3-5
    first = [r for r in BASKETS if r[0] <= 2]
    second = [r for r in BASKETS if r[0] > 2]
    for chunk in (first, second):
        cooccurrence_store_update(
            spark.createDataFrame(chunk, "basket int, item string"),
            store,
            "basket",
            "item",
        )
    got = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    want = sorted(
        tuple(r) for r in cooccurrence_pairs(df, "basket", "item").collect()
    )
    assert got == want


def _brute_kcore(edges, k):
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        adj = {n: s for n, s in adj.items() if s}
    return {n: len(s) for n, s in adj.items() if len(s) >= k}


def test_k_core_triangle_plus_tail(spark):
    # triangle 1-2-3 with a tail 3-4-5: 2-core is exactly the triangle
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src int, dst int"
    )
    got = {r["node"]: r["degree"] for r in graph.k_core(df, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_random_vs_brute(spark):
    rng = random.Random(11)
    edges = set()
    while len(edges) < 150:
        u, v = rng.sample(range(30), 2)
        edges.add((u, v))
    df = spark.createDataFrame(sorted(edges), "src int, dst int")
    for k in (2, 3, 5):
        want = _brute_kcore(edges, k)
        got = {r["node"]: r["degree"] for r in graph.k_core(df, k).collect()}
        assert got == want, k


def test_k_core_tight_max_rounds_still_converges(spark):
    """The 2-round-per-block form must not raise when max_rounds is
    exactly the count the 1-round form needed (round-8 review finding:
    a block can consume the budget one round past convergence, so the
    exhaustion path re-checks the fixpoint before raising)."""
    # tail 1-2-3-4-5 onto triangle 5-6-7: peeling the tail to the
    # 2-core takes several sequential rounds (one tail node per round)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (5, 7)],
        "src int, dst int",
    )
    # 1-round form needs 4 peel rounds + 1 detection = 5
    got = {r["node"]: r["degree"] for r in graph.k_core(df, 2, max_rounds=5).collect()}
    assert got == {5: 2, 6: 2, 7: 2}


def test_k_core_empty(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    # no 3-core, and an edge list that has no edges at all
    for edges in (df, df.limit(0)):
        out = graph.k_core(edges, 3)
        assert out.count() == 0
        assert out.columns == ["node", "degree"]


def test_item_similarity_values(spark):
    import math

    from alphalens_spark.scale.affinity import item_similarity

    df = spark.createDataFrame(BASKETS, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in item_similarity(df, "basket", "item").collect()
    }
    # c_a=4, c_b=3, c_ab=2, N=5
    r = got[("a", "b")]
    assert r["cosine"] == pytest.approx(2 / math.sqrt(12), abs=1e-6)
    assert r["jaccard"] == pytest.approx(2 / 5, abs=1e-6)
    assert r["pmi"] == pytest.approx(math.log(2 * 5 / 12), abs=1e-6)


def test_bigram_pmi(spark):
    import math

    from alphalens_spark.scale.text import bigram_pmi

    docs = spark.createDataFrame(
        [(1, "new york is big"), (2, "new york sleeps"), (3, "big city")],
        "doc_id long, text string",
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in bigram_pmi(docs, min_count=2).collect()
    }
    # only ("new","york") occurs >= 2 times
    assert set(out) == {("new", "york")}
    r = out[("new", "york")]
    # unigrams: 9 tokens total; new=2, york=2. bigrams: 3+2+1=6; pair=2
    p_ab, p_a, p_b = 2 / 6, 2 / 9, 2 / 9
    want = math.log(p_ab / (p_a * p_b))
    assert r["n_pair"] == 2
    assert r["pmi"] == pytest.approx(want, abs=1e-6)
    assert r["npmi"] == pytest.approx(want / -math.log(p_ab), abs=1e-6)


def test_cross_source_dup_matrix(spark):
    from alphalens_spark.scale.dedup import cross_source_dup_matrix

    rows = [
        (1, "s1", "hello"), (2, "s1", "hello"), (3, "s2", "hello"),
        (4, "s2", "world"), (5, "s3", "world"),
        (6, "s3", "unique"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source_a"], r["source_b"]): (r["dup_pairs"], r["n_texts"])
        for r in cross_source_dup_matrix(df).collect()
    }
    # "hello": s1 x2, s2 x1 -> (s1,s1): 1 pair; (s1,s2): 2 pairs
    # "world": s2 x1, s3 x1 -> (s2,s3): 1 pair
    assert got == {
        ("s1", "s1"): (1, 1),
        ("s1", "s2"): (2, 1),
        ("s2", "s3"): (1, 1),
    }


def test_inverted_index_search(spark):
    from alphalens_spark.scale.text import (
        bm25_scores,
        build_inverted_index,
        search_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join scan window join"),
            (2, "join the window"),
            (3, "scan scan scan"),
            (4, "nothing relevant here"),
            (5, "join scan window all three"),
        ],
        "doc_id long, text string",
    )
    postings, stats = build_inverted_index(docs)
    # index shape: tf of ("join", doc 1) is 2; dl carried on the posting
    prow = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in postings.collect()
    }
    assert prow[("join", 1)] == (2, 5)
    terms = ["join", "scan", "window"]
    top = search_terms(postings, stats, terms, k=10).collect()
    # search scores equal the corpus-scan scorer for matched docs
    want = {
        r["doc_id"]: round(r["bm25"], 6)
        for r in bm25_scores(docs, terms).collect()
        if r["n_terms_matched"] > 0
    }
    got = {r["doc_id"]: r["bm25"] for r in top}
    assert got == want
    # conjunctive mode keeps only docs matching all three terms
    allm = search_terms(postings, stats, terms, k=10, require_all=True).collect()
    assert {r["doc_id"] for r in allm} == {1, 5}


def _bpe_reference(texts, n_merges):
    """Pure-Python Sennrich BPE on word frequencies."""
    from collections import Counter

    freq = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                freq[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in freq.items()}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((step, a, b, a + b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    from alphalens_spark.scale.text import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat",
        "a tall tale to tell",
        "lower lowest low low lower",
        "aaa aa aaaa",  # adjacent-overlap chains exercise greedy merge
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for n in (3, 8):
        want = _bpe_reference(texts, n)
        # driver fast path (default guard) and distributed loop
        # (small_vocab=0) must both match the reference
        got_fast = [tuple(r) for r in bpe_train(docs, n_merges=n).collect()]
        got_dist = [
            tuple(r)
            for r in bpe_train(docs, n_merges=n, small_vocab=0).collect()
        ]
        assert got_fast == want, n
        assert got_dist == want, n


def test_bpe_segment_vocab_matches_reference(spark):
    from alphalens_spark.scale.text import bpe_segment_vocab

    texts = ["low lower lowest", "new newer newest", "low low new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = _bpe_reference(texts, 5)
    # apply reference merges to every distinct word
    def seg(word):
        syms = list(word) + ["</w>"]
        for _, a, b, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return " ".join(syms)

    got = {
        r["word"]: (r["pieces"], r["n_pieces"])
        for r in bpe_segment_vocab(docs, n_merges=5).collect()
    }
    vocab = {w for t in texts for w in t.split()}
    assert set(got) == vocab
    for w in vocab:
        expect = seg(w)
        assert got[w] == (expect, len(expect.split())), w


# ------------------------------------------------------- label propagation


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one edge resolve to two communities;
    the Spark rounds match the unrolled-CTE SQL twin exactly (incl. the
    deterministic smallest-label tiebreak). Duplicate input edge rows
    carry no extra vote (simple-graph contract)."""
    import duckdb

    from alphalens_spark.graph import label_propagation, label_propagation_sql

    E = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (10, 11), (2, 1)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = sorted(
        (r["node"], r["label"])
        for r in label_propagation(edges, n_iter=4).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges_t AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in E)
        + ") t(src,dst)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                label_propagation_sql("SELECT src, dst FROM edges_t", n_iter=4)
            ).fetchall(),
        )
    )
    assert got == want
    lab = dict(got)
    assert lab[1] == lab[2] == lab[3]
    assert lab[4] == lab[5] == lab[6]
    assert lab[1] != lab[4]
    # the isolated PAIR oscillates under synchronous updates (period 2,
    # the documented LPA property) — after an even round count each node
    # holds its own label again
    assert lab[10] == 10 and lab[11] == 11


def test_label_propagation_weighted_matches_sql_twin(spark):
    import duckdb

    from alphalens_spark.graph import label_propagation, label_propagation_sql

    EW = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (4, 5, 1.0),
          (5, 6, 1.0), (4, 6, 1.0), (3, 4, 10.0)]
    ew = spark.createDataFrame(EW, "src long, dst long, w double")
    got = dict(
        (r["node"], r["label"])
        for r in label_propagation(ew, n_iter=4, weight_col="w").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges_w AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b},{w})" for a, b, w in EW)
        + ") t(src,dst,w)"
    )
    want = dict(
        con.execute(
            label_propagation_sql(
                "SELECT src, dst, w FROM edges_w", n_iter=4, weighted=True
            )
        ).fetchall()
    )
    assert got == want


def test_label_propagation_self_loop_only_node_kept(spark):
    """A node whose ONLY edges are self-loops takes no part in
    propagation but still appears in the output labeled with its own id
    (GraphFrames LPA keeps every vertex) — both engines. Self-loops on
    connected nodes stay ignored."""
    import duckdb

    from alphalens_spark.graph import label_propagation, label_propagation_sql

    E = [(1, 2), (2, 3), (1, 3), (9, 9), (2, 2)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = sorted(
        (r["node"], r["label"])
        for r in label_propagation(edges, n_iter=4).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges_s AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in E)
        + ") t(src,dst)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                label_propagation_sql("SELECT src, dst FROM edges_s", n_iter=4)
            ).fetchall(),
        )
    )
    assert got == want
    lab = dict(got)
    assert lab[9] == 9                      # self-loop-only vertex kept
    assert lab[1] == lab[2] == lab[3] == 1  # triangle unaffected
    assert set(lab) == {1, 2, 3, 9}


def test_label_propagation_weighted_tie_breaks_on_label(spark):
    """Mathematically tied neighbor masses assembled in different
    summation orders must adopt the SAME label (6-dp mass snap): node 0
    sees label-1 mass 0.1+0.2 and label-2 mass 0.3 — an ulp apart as
    raw doubles — and must break the tie toward the smaller label on
    every engine. repartition shuffles summation order."""
    from alphalens_spark.graph import label_propagation

    # two parallel (0,1) edges with weights summing to 0.3 collapse to
    # one label-1 edge; against the single label-2 edge of weight 0.3
    # the masses tie EXACTLY only on the 6-dp grid (raw doubles differ
    # by an ulp depending on summation order). Assert on round 1 only
    # (n_iter=1), where leaf labels are stable.
    EW = [(0, 1, 0.1), (0, 1, 0.2), (0, 2, 0.3)]
    ew = spark.createDataFrame(EW, "src long, dst long, w double")
    for reps in (1, 7):
        got = dict(
            (r["node"], r["label"])
            for r in label_propagation(
                ew.repartition(reps), n_iter=1, weight_col="w"
            ).collect()
        )
        # 0.1+0.2 snaps to 0.3 == label-2 mass → tie → smaller label wins
        assert got[0] == 1


def test_bfs_distances_path_graph(spark):
    from alphalens_spark.graph import bfs_distances

    # path 1-2-3-4-5 plus isolated edge 10-11: from {1}, dists are exact
    # hop counts; 10/11 unreachable; max_depth truncates the far tail
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, src).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    out3 = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, src, max_depth=3).collect()
    }
    assert out3 == {1: 0, 2: 1, 3: 2, 4: 3}
    # a source outside the graph reaches nothing: only itself, at 0
    away = spark.createDataFrame([(99,)], "node long")
    assert bfs_distances(edges, away).collect() == [(99, 0)]


def test_bfs_distances_multi_source_and_undirected(spark):
    from alphalens_spark.graph import bfs_distances

    # edges stored one direction only; BFS must traverse both ways.
    # multi-source: dist = min over seeds
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (5, 4)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,), (5,)], "node long")
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, src).collect()}
    assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_null_seed_matches_sql_twin(spark):
    """A NULL seed must not poison either twin (round-8 ADVICE): the
    Spark side drops it under the non-null node contract, and the SQL
    twin's NOT EXISTS (was NOT IN) keeps expanding frontiers."""
    import duckdb

    from alphalens_spark.graph import bfs_distances, bfs_sql

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,), (None,)], "node long")
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, src).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}

    sql = bfs_sql(
        "SELECT * FROM (VALUES (1, 2), (2, 3), (3, 4)) t(src, dst)",
        "SELECT * FROM (VALUES (1), (NULL)) s(node)",
        n_rounds=5,
    )
    got = {int(n): int(d) for n, d in duckdb.sql(sql).fetchall()}
    assert got == out


def test_sssp_weighted_shorter_path_wins(spark):
    from alphalens_spark.graph import sssp_distances

    # 1-2 (10), 2-3 (10), 1-3 (100): the 2-hop route to 3 costs 20 and
    # must beat the direct heavy edge
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (1, 3, 100)], "src long, dst long, weight long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["dist"] for r in sssp_distances(edges, src).collect()}
    assert out == {1: 0, 2: 10, 3: 20}
    # a source outside the graph relaxes nothing: only itself, at 0
    away = spark.createDataFrame([(99,)], "node long")
    assert sssp_distances(edges, away).collect() == [(99, 0)]


def test_sssp_hop_bound_and_multi_source(spark):
    from alphalens_spark.graph import sssp_distances

    # path 1-2-3-4 (unit weights): max_hops=2 can't reach 4
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "src long, dst long, weight long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, src, max_hops=2).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2}
    # multi-source: dist = min over seeds; traversal is undirected
    src2 = spark.createDataFrame([(1,), (4,)], "node long")
    out2 = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, src2, max_hops=8).collect()
    }
    assert out2 == {1: 0, 4: 0, 2: 1, 3: 1}
