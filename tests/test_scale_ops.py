"""Tests for the scale extensions (dedup / similarity / text)."""

import math

import pytest

from pyspark.sql import functions as F

from alphalens_spark.scale import dedup, similarity, text


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_duplicates(spark):
    docs = _docs(spark, ["hello world", "goodbye", "hello world", "hello world"])
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_duplicates(docs).collect()}
    assert out == {0: 3, 1: 1}


def test_minhash_identical_docs_jaccard_one(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    docs = _docs(spark, [base, base, "completely different text about spark engines " * 10])
    out = dedup.minhash_lsh_duplicates(docs, threshold=0.5).collect()
    assert len(out) == 1
    assert out[0]["id_a"] == 0 and out[0]["id_b"] == 1
    assert out[0]["est_jaccard"] == 1.0


def test_minhash_near_duplicates_detected(spark):
    words = ["w%d" % i for i in range(200)]
    a = " ".join(words)
    b = " ".join(words[:190] + ["x%d" % i for i in range(10)])  # ~90% overlap
    docs = _docs(spark, [a, b])
    out = dedup.minhash_lsh_duplicates(docs, threshold=0.5).collect()
    assert len(out) == 1
    assert out[0]["est_jaccard"] > 0.6


def test_simhash_identical_equal_and_different_differ(spark):
    docs = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta",
                         "zeta eta theta iota kappa"])
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_simhash_vectorized_matches_hof_on_driver_docs(spark):
    """The numpy vote stage must be bit-identical to the pure-JVM
    aggregate form, for both token-hash families, on real driver data."""
    from alphalens_spark import datasets
    from pyspark.sql import functions as F

    docs = datasets.load_table(spark, "/root/testdata/sf0.001", "documents")
    for fam in ("xxhash64", "md5"):
        v = dedup.simhash(docs, token_hash=fam, impl="vectorized")
        h = dedup.simhash(docs, token_hash=fam, impl="hof").withColumnRenamed(
            "simhash", "simhash_hof"
        )
        joined = v.join(h, "doc_id")
        assert joined.where(F.col("simhash") != F.col("simhash_hof")).count() == 0
        assert joined.count() == docs.count()


def test_redact_pii_masks_and_counts(spark):
    docs = _docs(spark, [
        "contact me at jane.doe@example.com or +1 555-123-4567 thanks",
        "no pii here at all",
    ])
    out = {r["doc_id"]: r for r in text.redact_pii(docs).collect()}
    assert "<EMAIL>" in out[0]["clean_text"] and "<PHONE>" in out[0]["clean_text"]
    assert "example.com" not in out[0]["clean_text"]
    assert (out[0]["n_emails"], out[0]["n_phones"]) == (1, 1)
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (0, 0)
    assert out[1]["clean_text"] == "no pii here at all"


def test_token_budget_sample_prefers_quality_and_respects_budget(spark):
    # 3 high-quality docs (score 1.0, ~20 tokens each) + 1 junk doc
    # (repeated token -> low distinct ratio). Budget fits only the good
    # bucket: junk excluded, total tokens <= budget.
    good = "the quick brown fox jumps over a lazy dog while many others watch from afar today quietly"
    junk = "spam " * 50
    docs = _docs(spark, [good, good + " extra", good + " more words", junk.strip()])
    out = text.token_budget_sample(docs, budget_tokens=60)
    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    assert 3 not in ids  # junk bucket below the boundary
    assert sum(r["n_tokens"] for r in rows) <= 60
    assert len(rows) >= 1 and all(r["quality_score"] == 1.0 for r in rows)


def test_decontaminate_drops_overlapping_docs(spark):
    bench = _docs(spark, ["one two three four five six seven eight nine ten"])
    corpus = spark.createDataFrame(
        [
            (10, "xx one two three four five six seven eight yy"),  # shares 8-gram
            (11, "totally different words with no overlap at all here today"),
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.decontaminate(corpus, bench, n=8).collect()}
    assert kept == {11}


def test_connected_components_chain_and_isolated_pair(spark):
    """A transitive chain (1~2, 2~3, 3~7) must collapse into ONE cluster
    labeled by its minimum id, independently of pair orientation; an
    unrelated pair forms its own cluster."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["comp"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    # zero pairs: the first round observes no change on an empty frame
    none = dedup.connected_components(pairs.limit(0))
    assert none.collect() == [] and none.columns == ["node", "comp"]


def test_duplicate_clusters_end_to_end(spark):
    docs = _docs(spark, ["a b c d e f", "a b c d e f", "a b c d e f x",
                         "q r s t u v"])
    out = {r["doc_id"]: r["canonical_id"]
           for r in dedup.duplicate_clusters(docs, threshold=0.5).collect()}
    # docs 0,1,2 chain into one cluster rooted at 0; doc 3 is clean (absent)
    assert out[0] == 0 and out[1] == 0 and out[2] == 0
    assert 3 not in out


def test_ngram_jaccard_pairs(spark):
    docs = _docs(spark, ["a b c d e", "a b c d e", "v w x y z"])
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 1.0


def test_brute_force_topk(spark):
    vecs = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05]),
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = similarity.brute_force_topk(corpus, queries, k=2).collect()
    got = [(r["rnk"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rnk"])]
    assert got == [(1, 3), (2, 1)]  # closest direction first, self excluded


def test_lsh_topk_finds_same_bucket_neighbors(spark):
    vecs = [(i, [1.0 + 0.01 * i] + [0.0] * 63) for i in range(5)]
    vecs += [(100, [-1.0] + [0.0] * 63)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = similarity.lsh_topk(corpus, queries, k=3, bits=4, dim=64).collect()
    ids = {r["neighbor_id"] for r in out}
    assert ids <= {1, 2, 3, 4}  # opposite-direction vector lands elsewhere
    assert len(ids) == 3


def test_token_stats(spark):
    docs = _docs(spark, ["a b b c", "xyz"])
    out = {r["doc_id"]: r for r in text.token_stats(docs).collect()}
    assert out[0]["n_tokens"] == 4 and out[0]["n_distinct_tokens"] == 3
    assert out[1]["n_tokens"] == 1


def test_stopword_language_id(spark):
    docs = spark.createDataFrame(
        [(0, "the cat and the dog of the house", "en"),
         (1, "xyzzy plugh foobar quux", "zz")],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in text.stopword_language_id(docs).collect()}
    assert out[0]["lang_guess"] == "en" and out[0]["n_stopwords"] == 5
    assert out[1]["lang_guess"] == "other" and out[1]["n_stopwords"] == 0


def test_quality_score_range(spark):
    docs = _docs(spark, ["the quick brown fox jumps over a lazy dog again and again",
                         "x"])
    out = {r["doc_id"]: r["quality_score"] for r in text.quality_score(docs).collect()}
    assert out[0] > out[1]
    assert 0.0 <= out[1] <= out[0] <= 1.0


def test_rolling_fingerprint_stable(spark):
    docs = _docs(spark, ["some stable content here", "some stable content here",
                         "other content"])
    out = {r["doc_id"]: r["fingerprint"] for r in text.rolling_fingerprint(docs).collect()}
    assert out[0] == out[1] != out[2]


def test_token_count_bpe_ish(spark):
    docs = _docs(spark, ["hello world", "pneumonoultramicroscopicsilicovolcanoconiosis"])
    out = {r["doc_id"]: r["est_bpe_tokens"] for r in text.token_count_bpe_ish(docs).collect()}
    assert out[0] == 2
    assert out[1] > 1  # long word split by length correction


def test_ivf_topk_recovers_clusters(spark):
    # two tight clusters around +e1 and +e2; query near +e1 must retrieve
    # its own cluster, not the orthogonal one
    vecs = [(i, [1.0 + 0.01 * i, 0.01 * i] + [0.0] * 62) for i in range(8)]
    vecs += [(100 + i, [0.01 * i, 1.0 + 0.01 * i] + [0.0] * 62) for i in range(8)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = similarity.ivf_topk(corpus, queries, k=3, n_cells=2, nprobe=1, iters=2).collect()
    ids = {r["neighbor_id"] for r in out}
    assert len(ids) == 3
    assert all(i < 100 for i in ids)


def test_ivf_matches_brute_force_with_full_probe(spark):
    vecs = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(16)]) for i in range(30)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {(r["rnk"], r["neighbor_id"])
             for r in similarity.brute_force_topk(corpus, queries, k=5).collect()}
    ivf = {(r["rnk"], r["neighbor_id"])
           for r in similarity.ivf_topk(corpus, queries, k=5, n_cells=4,
                                        nprobe=4, iters=1).collect()}
    assert ivf == exact  # probing every cell ≡ exact search


def test_lsh_multiprobe_recall_improves(spark):
    """Multi-probe (flip lowest-|margin| bits) must recover at least the
    single-bucket recall vs brute force, and probing all 2^bits buckets
    must match brute force exactly (every candidate scored)."""
    rng_vecs = [
        (i, [float((i * 13 + j * 7) % 17 - 8) / 8.0 for j in range(16)])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(rng_vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk(corpus, queries, k=3).collect()}

    def recall(nprobe):
        got = {(r["query_id"], r["neighbor_id"])
               for r in similarity.lsh_topk(corpus, queries, k=3, bits=4,
                                            dim=16, nprobe=nprobe).collect()}
        return len(got & exact) / len(exact)

    r1, r4, rall = recall(1), recall(4), recall(16)
    assert r1 <= r4 <= rall
    assert rall == 1.0  # probing every bucket ≡ exact search


def test_embedding_cosine_duplicates_exact_and_lsh(spark):
    """Exact all-pairs finds planted duplicates at cos=1; LSH output is a
    subset of exact at the same threshold (precision 1 by construction)
    and always recovers identical vectors (they share every bucket)."""
    base = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(16)]) for i in range(30)
    ]
    # plant exact duplicates of vectors 0..4 as ids 100..104
    planted = [(100 + i, vec) for i, vec in [(i, base[i][1]) for i in range(5)]]
    emb = spark.createDataFrame(base + planted, "vec_id long, embedding array<float>")

    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in dedup.embedding_cosine_duplicates(emb, threshold=0.99).collect()}
    assert {(i, 100 + i) for i in range(5)} <= set(exact)
    assert all(abs(v - 1.0) < 1e-6 for k, v in exact.items()
               if k in {(i, 100 + i) for i in range(5)})

    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_cosine_duplicates_lsh(
               emb, threshold=0.99, n_tables=4, bits=4, dim=16).collect()}
    assert lsh <= set(exact)
    assert {(i, 100 + i) for i in range(5)} <= lsh  # identical ⇒ same buckets always


def test_embedding_lsh_zero_bits_degenerates_to_exact(spark):
    """bits=0 puts every vector in one bucket per table — the candidate set
    is all pairs, so the LSH result must equal the exact result."""
    vecs = [(i, [float((i * 13 + j) % 7 - 3) for j in range(8)]) for i in range(25)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_cosine_duplicates(emb, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_cosine_duplicates_lsh(
               emb, threshold=0.5, n_tables=1, bits=0, dim=8).collect()}
    assert lsh == exact


def test_brute_force_vectorized_matches_expression_form(spark):
    """The mapInPandas matrix-product path must produce exactly the
    expression-join path's output (same rounding, same tie-break)."""
    vecs = [(i, [float((i * 13 + j * 7) % 17 - 8) / 8.0 for j in range(16)])
            for i in range(80)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    a = sorted(map(tuple, similarity.brute_force_topk(corpus, queries, 4).collect()))
    b = sorted(map(tuple, similarity.brute_force_topk_vectorized(corpus, queries, 4).collect()))
    assert a == b


def test_simhash_duplicates_banding(spark):
    """Identical docs → hamming 0, always found (every block agrees);
    banding guarantee: every emitted pair verified ≤ max_hamming; disjoint
    texts don't pair."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 5),
         (2, "the quick brown fox jumps over the lazy dog " * 5),
         (3, "an entirely different document about spark physical plans"),
         (4, "lorem ipsum dolor sit amet consectetur adipiscing elit sed")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_duplicates(docs, max_hamming=3).collect()}
    assert got.get((1, 2)) == 0
    assert all(h <= 3 for h in got.values())
    assert (3, 4) not in got

    import pytest
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_duplicates(docs, max_hamming=4, bands=4)


def test_ivfpq_recall_against_exact(spark):
    """IVF-PQ is approximate twice over (coarse probe + code quantization);
    on the real test embeddings it must still recover most of the exact
    top-5 at nprobe=4 and nearly all at full probe."""
    from pyspark.sql import functions as F

    from alphalens_spark import datasets
    from alphalens_spark.scale.similarity import ivfpq_topk

    emb = datasets.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    exact = set()
    for qi in np.nonzero(ids % 50 == 0)[0]:
        d = ((V - V[qi]) ** 2).sum(1)
        d[qi] = np.inf
        exact |= {(int(ids[qi]), int(n)) for n in ids[np.argsort(d)[:5]]}
    # raw ADC: recall limited by code quantization (clustered embeddings
    # collapse to near-identical codes -> ties); still well above chance
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, k=5, n_cells=16, nprobe=16).collect()
    }
    adc_recall = len(got & exact) / len(exact)
    assert adc_recall >= 0.1, adc_recall
    # with the exact re-rank stage and a full probe, the only error left
    # is the candidate cut; recall should be essentially perfect
    ref = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, k=5, n_cells=16, nprobe=16, refine=20
        ).collect()
    }
    ref_recall = len(ref & exact) / len(exact)
    assert ref_recall >= 0.8, ref_recall
    assert ref_recall > adc_recall


def test_pq_codebooks_shape_and_determinism(spark):
    from alphalens_spark import datasets
    from alphalens_spark.scale.similarity import pq_codebooks

    emb = datasets.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = pq_codebooks(emb, m_sub=8, ksub=4, iters=1)
    b2 = pq_codebooks(emb, m_sub=8, ksub=4, iters=1)
    assert b1 == b2
    assert len(b1) == 8 and all(len(bm) == 4 for bm in b1)
    assert all(len(c) == 8 for bm in b1 for c in bm)


def test_hashed_linear_classifier_shape_and_determinism(spark):
    from alphalens_spark.scale.text import classifier_weights, hashed_linear_classifier

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "solo"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in hashed_linear_classifier(docs).collect()}
    # n unigrams + (n-1) bigrams; 1-token doc has no bigrams
    assert rows[1]["n_features"] == 5
    assert rows[2]["n_features"] == 1
    # same text → identical score (hash features are content-determined)
    assert rows[1]["logit"] == rows[3]["logit"]
    assert 0.0 < rows[1]["prob"] < 1.0
    import pytest

    with pytest.raises(ValueError, match="64 weights"):
        hashed_linear_classifier(docs, weights=[0.1, 0.2])
    assert classifier_weights(8, 7) == classifier_weights(8, 7)


def test_bigram_ce_rewards_predictable_transitions(spark):
    from alphalens_spark.scale.text import bigram_cross_entropy, unigram_cross_entropy

    # both docs have the SAME unigram profile; doc 1's transitions are
    # deterministic (a→b always), doc 2's alternate — only a bigram model
    # separates them
    docs = spark.createDataFrame(
        [(1, "a b a b a b a b"), (2, "a a b b b a a b")],
        "doc_id long, text string",
    )
    uni = {r["doc_id"]: r["cross_entropy"] for r in unigram_cross_entropy(docs).collect()}
    bi = {r["doc_id"]: r["cross_entropy"] for r in bigram_cross_entropy(docs).collect()}
    assert abs(uni[1] - uni[2]) < 1e-9
    assert bi[1] < bi[2]


def test_perplexity_buckets_terciles_per_source(spark):
    from alphalens_spark import datasets
    from alphalens_spark.scale.text import perplexity_buckets

    docs = datasets.load_table(spark, "/root/testdata/sf0.001", "documents")
    out = perplexity_buckets(docs)
    counts = {
        (r["source"], r["bucket"]): r["n"]
        for r in out.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sources = {s for s, _ in counts}
    for s in sources:
        h = counts.get((s, "head"), 0)
        m = counts.get((s, "middle"), 0)
        t = counts.get((s, "tail"), 0)
        tot = h + m + t
        # exact interpolated terciles → each bucket within one doc of n/3
        for part in (h, m, t):
            assert abs(part - tot / 3) <= 1.5, (s, h, m, t)


@pytest.mark.parametrize(
    "name", ["unigram_cross_entropy", "bigram_cross_entropy", "perplexity_buckets"]
)
def test_cross_entropy_leaves_no_cache_entry(spark, name):
    """The language-model scorers materialize their shared counts through
    the library's checkpoint, not a persist that nothing unpersists: a
    leaked CacheManager entry lives as long as the session, and a repeat
    call on the same docs would read it instead of computing."""
    from alphalens_spark.entry_queries import clear_session_caches

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", " ".join(f"w{(i * j) % 7}" for j in range(1, 6 + i % 4)))
         for i in range(20)],
        "doc_id long, source string, text string",
    )
    clear_session_caches()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    assert len(getattr(text, name)(docs).collect()) == 20
    assert cm.isEmpty()


def test_np_assignment_bit_identical_to_expression_form(spark):
    from alphalens_spark import datasets
    from alphalens_spark.scale.similarity import (
        _nearest_cell,
        _nearest_cell_np,
        _pq_codes_np,
        _dists_to_centroids,
        kmeans_lite_centroids,
        pq_codebooks,
    )

    emb = datasets.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = kmeans_lite_centroids(emb, n_cells=8, iters=1)
    books = pq_codebooks(emb, m_sub=8, ksub=4, iters=1)

    both = emb.select(
        "vec_id",
        _nearest_cell(F.col("embedding"), cents).alias("c_expr"),
        _nearest_cell_np(F.col("embedding"), cents).alias("c_np"),
        _pq_codes_np(F.col("embedding"), books).alias("codes_np"),
        F.array(
            *[
                (
                    F.array_position(
                        d := _dists_to_centroids(
                            F.slice("embedding", m * 8 + 1, 8), books[m]
                        ),
                        F.array_min(d),
                    )
                    - 1
                ).cast("int")
                for m in range(8)
            ]
        ).alias("codes_expr"),
    ).collect()
    for r in both:
        # the numpy path reproduces the zip_with/aggregate float order
        # exactly, so assignments must match bit-for-bit, not just mostly
        assert r["c_expr"] == r["c_np"], r
        assert r["codes_expr"] == r["codes_np"], r


def test_ngram_language_id_separable_corpus(spark):
    """On a corpus whose languages have genuinely distinct character
    distributions the trigram LM classifies perfectly; ties and unseen
    grams hit the smoothing floor instead of crashing. (The driver
    corpus's lang labels are random — all five langs share one 31-word
    vocabulary — so THIS is the method's correctness evidence.)"""
    from alphalens_spark.scale.text import ngram_language_id

    mk = {
        "aa": lambda i: " ".join(["alpha beta gamma delta"] * 4) + f" x{i}",
        "bb": lambda i: " ".join(["zulu yankee xray whisky"] * 4) + f" q{i}",
        "cc": lambda i: " ".join(["mmmm nnnn oooo pppp"] * 4) + f" k{i}",
    }
    rows = [
        (lang_i * 100 + i, mk[lang](i), lang)
        for lang_i, lang in enumerate(mk)
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    out = ngram_language_id(train, test).collect()
    assert len(out) == 12
    assert all(r["correct"] for r in out)
    assert all(r["lang_pred"] == r["lang"] for r in out)
    # deterministic under repartitioning (sum-order independence of the
    # argmin at this separation)
    out2 = ngram_language_id(train.repartition(7), test.repartition(5)).collect()
    assert sorted((r["doc_id"], r["lang_pred"]) for r in out2) == sorted(
        (r["doc_id"], r["lang_pred"]) for r in out
    )


def test_content_defined_chunks_tile_and_shift_resist(spark):
    """CDC chunks exactly tile each document, and a prefix insertion
    perturbs only the chunks up to the first content boundary — the
    digests downstream re-synchronize (the property fixed-stride
    blocking lacks)."""
    from alphalens_spark.scale.dedup import (
        cdc_chunk_duplicates,
        content_defined_chunks,
    )

    A = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark woods tonight "
    ) * 8
    rows = [
        (0, A),
        (1, "PREFIX SHIFT >> " + A),
        (2, "totally different content that shares nothing with the rest"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in content_defined_chunks(docs).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_len"], r["chunk_digest"])
        )
    for k in out:
        out[k].sort()
    for i, txt in rows:
        assert sum(c[2] for c in out[i]) == len(txt)  # exact tiling
        assert out[i][0][1] == 1
        # contiguity: each chunk starts right after the previous
        for (pi, ps, pl, _), (ci, cs, cl, _) in zip(out[i], out[i][1:]):
            assert cs == ps + pl and ci == pi + 1
    d0 = {c[3] for c in out[0]}
    d1 = {c[3] for c in out[1]}
    d2 = {c[3] for c in out[2]}
    assert len(d0 & d1) / len(d0) > 0.5   # shifted copy re-synchronizes
    assert not (d0 & d2)                   # unrelated content disjoint
    dups = cdc_chunk_duplicates(docs).collect()
    assert dups and all(r["n_docs"] >= 2 for r in dups)


def test_content_defined_chunks_impls_identical(spark):
    """The Arrow mapInPandas production route and the Column-expression
    oracle twin emit bit-identical chunk rows — including the edge
    shapes: NULL text (no rows), empty text (no rows), text shorter
    than the window (one whole-doc chunk), multi-byte unicode (windows
    are CHARACTER-indexed; md5 runs over the utf-8 bytes)."""
    from alphalens_spark.scale.dedup import content_defined_chunks

    A = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark woods tonight "
    ) * 8
    rows = [
        (0, A),
        (1, "PREFIX SHIFT >> " + A),
        (2, "short"),
        (3, ""),
        (4, None),
        (5, "naïve café — öüß ✓ " + A[:200]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    fast = content_defined_chunks(docs, impl="arrow")
    hof = content_defined_chunks(docs, impl="hof")
    assert fast.schema == hof.schema or [
        (f.name, f.dataType.simpleString()) for f in fast.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in hof.schema.fields]
    assert canon(fast) == canon(hof)
    # window/mask variation too
    assert canon(
        content_defined_chunks(docs, window=8, mask_bits=4, impl="arrow")
    ) == canon(content_defined_chunks(docs, window=8, mask_bits=4, impl="hof"))


def test_dedup_keep_best_prefers_quality(spark):
    """dedup_keep_best keeps the highest-score doc per near-dup cluster
    (ties -> lowest id); unclustered docs keep themselves."""
    from alphalens_spark.scale.dedup import dedup_keep_best

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(1, "a", 0.2), (2, "b", 0.9), (3, "c", 0.9), (10, "d", 0.1),
         (11, "e", 0.05), (42, "solo", 0.0)],
        "doc_id long, text string, quality double",
    )
    out = {r["doc_id"]: r for r in dedup_keep_best(
        docs, "quality", pairs=pairs
    ).collect()}
    # cluster {1,2,3}: 2 and 3 tie at 0.9 -> lowest id 2 wins
    assert [out[i]["canonical_id"] for i in (1, 2, 3)] == [2, 2, 2]
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    # cluster {10,11}: 10 wins on score
    assert out[10]["keep"] and not out[11]["keep"]
    assert out[11]["canonical_id"] == 10
    # unclustered keeps itself
    assert out[42]["keep"] and out[42]["canonical_id"] == 42


def test_dedup_keep_best_null_scores_never_win(spark):
    """A missing quality signal must never beat a real one (regression:
    struct-min ordered NULL first and kept the unscored copy)."""
    from alphalens_spark.scale.dedup import dedup_keep_best

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(1, "t", None), (2, "t", 0.9), (3, "t", 0.5)],
        "doc_id long, text string, quality double",
    )
    out = {r["doc_id"]: r for r in dedup_keep_best(
        docs, "quality", pairs=pairs
    ).collect()}
    assert out[2]["keep"] and not out[1]["keep"]
    assert all(out[i]["canonical_id"] == 2 for i in (1, 2, 3))


def test_wordpiece_segment_vocab_bert_rules(spark):
    """Greedy longest-match-first with ## continuations and the spec's
    all-or-nothing [UNK] rule (BERT WordpieceTokenizer semantics)."""
    from alphalens_spark.scale.text import wordpiece_segment_vocab

    docs = spark.createDataFrame(
        [(0, "unaffable running runs xyz un"), (1, "running unaffable")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("un",), ("##aff",), ("##able",), ("runn",), ("##ing",),
         ("runs",), ("##s",), ("run",), ("##n",)],
        "piece string",
    )
    out = {
        r["word"]: (r["pieces"], r["n_pieces"], r["freq"])
        for r in wordpiece_segment_vocab(docs, vocab).collect()
    }
    assert out["unaffable"][:2] == ("un ##aff ##able", 3)
    # longest match: 'runn' beats 'run' at position 1
    assert out["running"][:2] == ("runn ##ing", 2)
    assert out["runs"][:2] == ("runs", 1)        # whole-word piece
    assert out["xyz"][:2] == ("[UNK]", 1)        # no match anywhere
    assert out["un"][:2] == ("un", 1)
    assert out["running"][2] == 2                # freq across docs


def test_unigram_lm_train_matches_python_reference(spark):
    """Hard-EM unigram-LM training == the pure-Python reference (seed by
    substring mass + char floor, integer micro-nat Viterbi with the
    (cost, last-piece-length) tie-break, usage-count re-estimation)."""
    import math
    from collections import Counter

    from alphalens_spark.scale.text import unigram_lm_train

    texts = ["banana bandana banana nab", "banana bandana ban"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    # distributed rounds (driver_guard=0 disables the fast path) AND the
    # guarded driver path must both equal the reference
    got = {
        r["piece"]: (r["usage"], r["cost_micro"])
        for r in unigram_lm_train(
            docs, seed_size=10, max_piece_len=4, n_iter=1, max_word_len=8,
            driver_guard=0,
        ).collect()
    }
    got_driver = {
        r["piece"]: (r["usage"], r["cost_micro"])
        for r in unigram_lm_train(
            docs, seed_size=10, max_piece_len=4, n_iter=1, max_word_len=8
        ).collect()
    }

    words = Counter()
    for t in texts:
        words.update(t.split())
    subs, chars = Counter(), set()
    for wd, fq in words.items():
        for p in range(len(wd)):
            for ln in range(1, min(4, len(wd) - p) + 1):
                subs[wd[p:p + ln]] += fq
                if ln == 1:
                    chars.add(wd[p])
    top = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    vocab = {k for k, _ in top} | chars
    counts = {pc: subs[pc] for pc in vocab}

    def costs(cnt):
        tot = sum(cnt.values())
        return {pc: int(round(-math.log(c / tot) * 1e6)) for pc, c in cnt.items()}

    cost = costs(counts)

    def viterbi(wd):
        inf = 10 ** 18
        dist = [0] + [inf] * len(wd)
        back = [0] * (len(wd) + 1)
        for j in range(1, len(wd) + 1):
            best = None
            for ln in range(1, min(4, j) + 1):
                pc = wd[j - ln:j]
                if pc in cost and dist[j - ln] < inf:
                    cand = (dist[j - ln] + cost[pc], ln)
                    if best is None or cand < best:
                        best = cand
            dist[j], back[j] = best
        pieces, j = [], len(wd)
        while j > 0:
            pieces.append(wd[j - back[j]:j])
            j -= back[j]
        return pieces

    usage = Counter()
    for wd, fq in words.items():
        for pc in viterbi(wd):
            usage[pc] += fq
    new_counts = {}
    for pc in set(usage) | chars:
        c = usage.get(pc, 0) + (1 if len(pc) == 1 else 0)
        if c > 0:
            new_counts[pc] = c
    fc = costs(new_counts)
    want = {pc: (c, fc[pc]) for pc, c in new_counts.items()}
    assert got == want
    assert got_driver == want
    # the banana corpus learns its real morphemes
    assert got["ban"][0] >= 5 and got["ana"][0] >= 4


def test_unigram_lm_long_words_excluded_consistently(spark):
    """Words longer than max_word_len are excluded from TRAINING on both
    paths (regression: the distributed DP silently dropped them while
    the driver path segmented them — divergent vocabularies)."""
    from alphalens_spark.scale.text import unigram_lm_train

    docs = spark.createDataFrame(
        [(0, "extraordinary ban ban ana")], "doc_id long, text string"
    )
    kw = dict(seed_size=10, max_piece_len=4, n_iter=1, max_word_len=12)
    a = sorted(
        tuple(r) for r in unigram_lm_train(docs, driver_guard=0, **kw).collect()
    )
    b = sorted(tuple(r) for r in unigram_lm_train(docs, **kw).collect())
    assert a == b
    # 'extraordinary' (13 chars) contributed nothing: its unique
    # letters (x, etc.) never enter the vocabulary at all
    pieces = {p for p, _u, _c in a}
    assert "x" not in pieces and "ban" in pieces
    # no word within the cap: the word table is empty and its observed
    # longest word is NULL on both paths
    only_long = docs.select("doc_id", F.lit("extraordinary").alias("text"))
    for guard in (0, 65536):
        assert unigram_lm_train(
            only_long, driver_guard=guard, **kw
        ).collect() == []
