"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small) query
set against the corpus, dot products via zip_with/aggregate (JVM-side,
codegen), per-query top-k via window row_number.

Scale path: LSH bucketing (random-hyperplane signs) so each query only
scans its bucket — the corpus side shuffles once on the bucket key and the
candidate set shrinks by ~2^bits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alphalens_spark.session import checkpoint


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# brute-force forms broadcast/collect the ENTIRE query set to every task:
# legitimate for a probe set, a scale-killer for query sets that are
# themselves corpus-sized. Guard, don't guess — the error names the fix.
MAX_BRUTE_FORCE_QUERIES = 65_536


def _guard_query_count(n: int) -> None:
    if n > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"brute-force top-k received {n} query vectors "
            f"(max {MAX_BRUTE_FORCE_QUERIES}): the query set is broadcast to "
            "every task by design, so a corpus-sized query set must go "
            "through ivf_topk / ivfpq_topk (bucketed candidate generation) "
            "instead."
        )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries: (query_id, qv array<float>) — assumed small → broadcast, so
    the corpus streams through map-side with no shuffle until the final
    per-query top-k (rows = |queries|·k after the window filter; AQE
    coalesces). Ranking ties broken by (rounded cosine desc, neighbor id)
    for determinism across engines. Fails fast above
    ``MAX_BRUTE_FORCE_QUERIES`` (one bounded count on the small side)
    with guidance to the IVF paths.
    """
    _guard_query_count(queries.count())
    # hoist the norms: ||v|| once per corpus row and ||q|| once per query,
    # instead of once per (query, neighbor) pair — the dot product is the
    # only per-pair work left
    corpus_n = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    queries_n = queries.select(
        "query_id", "qv", _norm(F.col("qv")).alias("_qn")
    )
    pairs = corpus_n.join(
        F.broadcast(queries_n), F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("qv"), F.col("_v")) / (F.col("_qn") * F.col("_vn"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cs"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cs"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("cs", 6).alias("cos_sim"),
        )
    )


def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k as one numpy matrix product per corpus batch.

    Same contract and (6dp-rounded, id-tiebroken) output as
    :func:`brute_force_topk`, different physical plan: the query matrix
    (small by contract — same assumption the join form makes by
    broadcasting it) is collected once and closed over; each corpus
    partition streams through ``mapInPandas`` computing
    ``V_batch @ Q.T`` — one BLAS call per Arrow batch instead of
    |pairs| x dim interpreted HOF evaluations (measured ~10x on the
    sf0.1 bench). Each batch emits only its local top-k per query, so
    the shuffle into the global top-k window carries
    |queries| x k x n_batches rows, not |pairs|. This is the scale shape
    for distributed brute force: compute streams map-side, nothing
    quadratic ever shuffles.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select("query_id", "qv").collect()
    _guard_query_count(len(q_rows))
    q_ids = np.array([r["query_id"] for r in q_rows])
    Q = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Qn.T  # (batch, n_queries)
            for qi, qid in enumerate(q_ids):
                col = S[:, qi].copy()
                # self-match → -inf so it can never survive selection.
                # O(n) partition selection (no full argsort, no Python
                # filter loop), on the ROUNDED score — the global window
                # ranks by (round(cs,6) desc, neighbor_id), so the local
                # cut must keep every row tied with the k-th rounded
                # value or a boundary tie could locally evict the
                # neighbor the global ordering prefers
                col[ids == qid] = -np.inf
                col_r = np.round(col, 6)
                if len(col_r) > k:
                    kth = -np.partition(-col_r, k - 1)[k - 1]
                    cand = np.nonzero(col_r >= kth)[0]
                else:
                    cand = np.arange(len(col_r))
                cand = cand[np.isfinite(col[cand])]
                if cand.size:
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[cand],
                            "cs": col[cand],
                        }
                    )

    from alphalens_spark.scale.dedup import spread_for_compute

    scored = spread_for_compute(corpus.select(id_col, vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, cs double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cs"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("cs", 6).alias("cos_sim"),
        )
    )


def label_centroids(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid in long format (label, dim_idx 1-based, centroid).

    posexplode → groupBy(label, dim) avg: one shuffle keyed by
    (label, dim) — uniform fan-out of |rows|·dim, the scalable shape for
    wide vectors (no giant array aggregation on a single reducer).
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("_pos", "_x"),
    )
    return (
        ex.groupBy("label", (F.col("_pos") + 1).alias("dim_idx"))
        .agg(F.avg(F.col("_x").cast("double")).alias("centroid"))
    )


def _hyperplanes(bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic driver-side random hyperplane matrix (tiny)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _plane_margins(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Array of v·h_j for each hyperplane — the signed bucket margins."""
    dots = []
    for h in planes:
        dots.append(_dot(F.col(vec_col), _vector_expr(h)))
    return F.array(*dots)


def _margins_to_bucket(margins: F.Column, bits: int) -> F.Column:
    """Fold margin signs into the integer bucket id."""
    bucket = F.lit(0)
    for j in range(bits):
        bucket = bucket + F.when(
            F.element_at(margins, j + 1) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def random_hyperplane_buckets(
    df: DataFrame,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket id per vector: ``bits`` random hyperplanes.

    Hyperplane matrix is generated deterministically on the driver (tiny:
    bits × dim literals) and folded into the plan as array literals —
    each executor evaluates sign(v·h_j) with built-in expressions.
    Output: (id, bucket int).
    """
    planes = _hyperplanes(bits, dim, seed)
    margins = _plane_margins(vec_col, planes)
    return df.select(F.col(id_col), _margins_to_bucket(margins, bits).alias("bucket"))


def kmeans_lite_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations for IVF coarse centroids.

    Init = the ``n_cells`` lowest-id vectors (deterministic, no RNG on
    data); each iteration is one distributed pass: assign via argmin over
    centroid literals (broadcast into the plan), then per-cell per-dim
    means via posexplode + groupBy. Only the tiny (n_cells × dim) centroid
    table ever reaches the driver — the same driver/executor split as
    MLlib's KMeans.
    """
    init = [
        [float(x) for x in r[vec_col]]
        for r in corpus.orderBy(id_col).limit(n_cells).collect()
    ]
    cents = init
    for _ in range(iters):
        cell = _nearest_cell_np(F.col(vec_col), cents)
        # two-step select: materialize the argmin cell BELOW the explode —
        # in one projection with posexplode the Generate re-evaluates the
        # assignment once per EXPLODED row (64x blowup; measured 25 s for
        # two Lloyd passes over 2k vectors at sf0.1, <2 s in this form)
        assigned = corpus.select(
            cell.alias("cell"), F.col(vec_col).alias("_v")
        ).select("cell", F.posexplode("_v").alias("pos", "x"))
        means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [
            [new[c][p] for p in sorted(new[c])] if c in new else cents[c]
            for c in range(len(cents))
        ]
    return cents


def _vector_expr(vals) -> F.Column:
    """Literal array<double> parsed from ONE SQL string. Element-wise
    ``F.array(F.lit(x), …)`` costs a Py4J round trip per element — a
    16×64 centroid matrix is ~1000 driver calls, measured 1.7 s of pure
    plan-build wall per ivfpq search. One expr() is a single call + one
    Catalyst parse; the string round-trip (repr → Java parseDouble) is
    bit-exact for every finite double, and ConstantFolding collapses the
    casts so the executed plan is the same literal array."""
    return F.expr(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vals) + ")"
    )


def _matrix_expr(rows) -> F.Column:
    """Literal array<array<double>> via one parsed SQL string (see
    :func:`_vector_expr`)."""
    body = ",".join(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in row) + ")"
        for row in rows
    )
    return F.expr(f"array({body})")


def _dists_to_centroids_sql(vec_sql: str, centroids) -> str:
    """SQL text of the squared-L2 distance array (see
    :func:`_dists_to_centroids`) — for hot plan-build paths where even
    the higher-order-function Column builders' Py4J round trips matter
    (ivfpq builds 8 of these per search batch)."""
    body = ",".join(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in c) + ")"
        for c in centroids
    )
    return (
        f"transform(array({body}), c -> aggregate("
        f"zip_with({vec_sql}, c, "
        "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _dists_to_centroids(
    vec: F.Column | str, centroids: list[list[float]]
) -> F.Column:
    """Array of squared L2 distances from ``vec`` to every centroid.

    ONE ``transform`` lambda over a literal centroid MATRIX instead of
    |centroids| separate zip_with/aggregate expression trees: the
    arithmetic (and float order) is identical per centroid, but the plan
    carries one operator subtree, not n_cells of them — with 16x16-entry
    PQ codebooks the per-centroid form ballooned analysis + codegen into
    tens of seconds per stage (1.4 MiB task binaries) while this form
    stays milliseconds. Pass ``vec`` as a SQL string to build the whole
    expression in one parse (identical semantics, fewer driver calls).
    """
    if isinstance(vec, str):
        return F.expr(_dists_to_centroids_sql(vec, centroids))
    mat = _matrix_expr(centroids)
    return F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(
                vec, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def _nearest_cell(vec: F.Column, centroids: list[list[float]]) -> F.Column:
    """0-based argmin of squared L2 distance to each centroid literal."""
    arr = _dists_to_centroids(vec, centroids)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def _sq_dists_np(V, C):
    """(n, k) squared L2 distances with the SAME sequential per-dim float
    order as the ``zip_with``/``aggregate`` expression form: acc starts at
    0.0 and adds (a_j − b_j)² for j = 0, 1, … — each (row, centroid)
    accumulation is therefore the identical IEEE op sequence, so argmin
    (and every downstream Lloyd mean and SQL-oracle replay) is
    bit-for-bit unchanged. A BLAS einsum would be ~2× faster here but
    reorders the sum; this loop is one vectorized (n × k) op per dim."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(C.shape[1]):
        d = V[:, j, None] - C[None, :, j]
        acc += d * d
    return acc


def _nearest_cell_np(vec: F.Column, centroids: list[list[float]]) -> F.Column:
    """numpy twin of :func:`_nearest_cell` — bit-identical cells (see
    :func:`_sq_dists_np`) at Arrow-batch speed. The interpreted-HOF form
    costs ~2 µs per array element (minhash_signatures measurement);
    assignment passes over n_cells × dim literals multiply that by the
    full centroid matrix, which made quantizer TRAINING the one
    data-linear interpreted stage left in the index build. np.argmin
    returns the first minimum = ``array_position(array_min)``."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _argmin(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int32")
        V = np.asarray(s.tolist(), dtype=np.float64)
        return pd.Series(_sq_dists_np(V, C).argmin(axis=1).astype(np.int32))

    return _argmin(vec)


def _pq_codes_np(vec: F.Column, codebooks: list[list[list[float]]]) -> F.Column:
    """Per-subspace nearest-codeword ids as ONE Arrow pass: returns
    array<int> of length m_sub. Same bit-identical-order contract as
    :func:`_nearest_cell_np`, applied per contiguous subspace slice."""
    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(bm, dtype=np.float64) for bm in codebooks]
    dsub = Cs[0].shape[1]

    @pandas_udf("array<int>")
    def _codes(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray(s.tolist(), dtype=np.float64)
        cols = [
            _sq_dists_np(V[:, m * dsub : (m + 1) * dsub], Cs[m])
            .argmin(axis=1)
            .astype(np.int32)
            for m in range(len(Cs))
        ]
        codes = np.stack(cols, axis=1)
        return pd.Series(list(codes))

    return _codes(vec)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells + nprobe cell search.

    The corpus is partitioned once by nearest-centroid cell; each query
    probes its ``nprobe`` nearest cells, so the scored candidate set is
    ~(nprobe/n_cells) of the corpus. The cell join is a plain equi-join on
    the cell id — at 100 TB the corpus side is hash-partitioned by cell
    and only the (tiny, broadcast) query set replicates.
    """
    cents = kmeans_lite_centroids(corpus, n_cells, iters, id_col, vec_col)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
        _nearest_cell_np(F.col(vec_col), cents).alias("cell"),
    )
    probe_dists = []
    for c in cents:
        diff = F.zip_with(
            F.col("qv"),
            _vector_expr(c),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        )
        probe_dists.append(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v))
    ranked_cells = F.transform(
        F.array_sort(
            F.arrays_zip(F.array(*probe_dists), F.array(*[F.lit(i) for i in range(len(cents))]))
        ),
        lambda s: s["1"],
    )
    # two-step select: probe ranking materializes once per query below the
    # explode (a single-select Generate re-evaluates it per probe row)
    qb = queries.select(
        "query_id", "qv", _norm(F.col("qv")).alias("_qn"),
        F.slice(ranked_cells, 1, nprobe).alias("_probe"),
    ).select("query_id", "qv", "_qn", F.explode("_probe").alias("cell"))
    pairs = cb.join(F.broadcast(qb), "cell").where(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("_v")) / (F.col("_qn") * F.col("_vn"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cs"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cs"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"),
                F.round("cs", 6).alias("cos_sim"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    nprobe: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: compare only within the query's LSH
    bucket(s).

    Equi-join on bucket replaces the all-pairs cross join; with b bits the
    candidate set shrinks ~2^b×. ``nprobe > 1`` enables **multi-probe**
    (Lv et al., VLDB 2007): each query also probes the nprobe−1 buckets
    obtained by flipping its lowest-|margin| hyperplane bits — the
    buckets a true neighbor most likely fell into — trading candidate
    volume for recall WITHOUT more hash tables (memory-free vs the
    classic L-tables scheme). Each probe is a distinct bucket, so a
    neighbor is scored at most once; the join stays a plain equi-join on
    the bucket key and the query side stays broadcast-small
    (|queries| × nprobe rows).
    """
    planes = _hyperplanes(bits, dim, seed)
    cb = corpus.join(
        random_hyperplane_buckets(corpus, bits, dim, seed, id_col=id_col, vec_col=vec_col),
        id_col,
    )
    margins = _plane_margins("qv", planes)
    base_bucket = _margins_to_bucket(margins, bits)
    if nprobe <= 1:
        qb = queries.select("query_id", "qv", base_bucket.alias("bucket"))
    else:
        # perturbation masks enumerated driver-side in increasing popcount
        # (just enough to serve nprobe−1 probes); per query each mask is
        # scored by the summed |margin| of its flipped planes — the
        # probability-ordered probe sequence of Lv et al. — then the
        # cheapest nprobe−1 masks XOR onto the base bucket
        all_masks = sorted(range(1, 1 << bits), key=lambda m: bin(m).count("1"))
        # pool ≥ all 1- and 2-bit flips so the per-query cost sort has
        # real choices; grows to cover large nprobe up to exhaustive
        pool = max(nprobe - 1, bits + bits * (bits - 1) // 2)
        masks = all_masks[:pool]
        scored_masks = F.array(
            *[
                F.struct(
                    sum(
                        F.abs(F.element_at(margins, j + 1))
                        for j in range(bits)
                        if m & (1 << j)
                    ).alias("cost"),
                    F.lit(m).alias("mask"),
                )
                for m in masks
            ]
        )
        flips = F.transform(
            F.slice(F.array_sort(scored_masks), 1, nprobe - 1),
            lambda s: base_bucket.bitwiseXOR(s["mask"]),
        )
        probes = F.concat(F.array(base_bucket), flips)
        qb = queries.select("query_id", "qv", F.explode(probes).alias("bucket"))
    pairs = cb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"), "bucket"
    ).join(F.broadcast(qb), ["bucket"]).where(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("qv"), F.col("_v")) / (_norm(F.col("qv")) * _norm(F.col("_v")))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cs"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cs"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), F.round("cs", 6).alias("cos_sim"))
    )


def pq_codebooks(
    corpus: DataFrame,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd codebooks for product quantization
    (Jegou, Douze, Schmid 2011 "Product Quantization for Nearest Neighbor
    Search"). The vector is split into ``m_sub`` contiguous subspaces;
    each gets a ``ksub``-entry codebook trained independently.

    Same driver/executor split and determinism contract as
    :func:`kmeans_lite_centroids`: init = the ``ksub`` lowest-id vectors'
    subvectors (no RNG on data), every iteration assigns ALL subspaces in
    ONE distributed pass (the per-subspace argmin expressions evaluate
    side by side over the same scan), per-(subspace, cell, dim) means via
    one explode + groupBy, and only the tiny m_sub x ksub x dsub codebook
    crosses to the driver. Empty cells keep their previous centroid;
    argmin ties go to the lowest cell.
    """
    first = corpus.orderBy(id_col).limit(ksub).collect()
    dim = len(first[0][vec_col])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    books = [
        [[float(x) for x in r[vec_col][m * dsub : (m + 1) * dsub]] for r in first]
        for m in range(m_sub)
    ]

    for _ in range(iters):
        # one Arrow pass assigns ALL subspaces (array of m_sub cells);
        # dims then explode ONCE with (m, j) derived from the position —
        # the assignment is materialized below the Generate so it runs
        # per row, not per exploded element
        m_of = F.floor(F.col("pos") / dsub).cast("int")  # posexplode pos is 0-based
        assigned = (
            corpus.select(
                _pq_codes_np(F.col(vec_col), books).alias("cs"),
                F.col(vec_col).alias("_v"),
            )
            .select("cs", F.posexplode("_v").alias("pos", "x"))
            .select(
                m_of.alias("m"),
                F.element_at("cs", m_of + 1).alias("cell"),
                F.pmod("pos", F.lit(dsub)).alias("j"),
                F.col("x"),
            )
        )
        means = (
            assigned.groupBy("m", "cell", "j")
            .agg(F.avg(F.col("x").cast("double")).alias("w"))
            .collect()
        )
        new: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            new.setdefault((r["m"], r["cell"]), {})[r["j"]] = r["w"]
        books = [
            [
                [new[(m, c)][j] for j in sorted(new[(m, c)])]
                if (m, c) in new
                else books[m][c]
                for c in range(ksub)
            ]
            for m in range(m_sub)
        ]
    return books


def encode_pq(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus against trained quantizers: (id, cell int,
    codes array<int>) — the ~32x-compressed IVF-PQ index artifact. In
    production this is computed once per corpus snapshot and persisted
    (bucketed by cell via storage.write_bucketed, so every probe is a
    co-located read); pass it to :func:`ivfpq_topk` as ``index``."""
    return corpus.select(
        F.col(id_col),
        _nearest_cell_np(F.col(vec_col), centroids).alias("cell"),
        _pq_codes_np(F.col(vec_col), codebooks).alias("codes"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    refine: int | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    index: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS IVFADC architecture, in the
    no-residual variant: PQ codebooks train on raw vectors, which keeps
    the quantizer replayable as plain SQL for the oracle).

    Why this is the 100 TB shape: the corpus is stored as (cell int,
    codes array<int> of m_sub bytes-worth) — a ~32x compression of a
    64-dim float vector, so a petabyte of embeddings scans as tens of
    terabytes of codes. Queries probe ``nprobe`` coarse cells (equi-join
    on cell id, never all-pairs) and score candidates by asymmetric
    distance: the query precomputes one m_sub x ksub lookup table of
    subspace distances, and each candidate costs m_sub ``element_at``
    picks + adds instead of a dim-length dot product. Ranking is
    ascending approximate squared L2, ties by neighbor id.

    With ``refine=r`` the ADC scan nominates k*r candidates per query
    and the final top-k re-ranks those few rows by exact squared L2
    against the full vectors (FAISS's refine stage) — recall is then
    bounded by the coarse probe, not the code quantization.

    Output: (query_id, neighbor_id, rnk, adc_dist) — or l2_dist when
    refined.
    """
    # pass pre-trained centroids/codebooks (and optionally the encoded
    # ``index`` from encode_pq) to skip the build phase — in production
    # the quantizers and codes are build-once artifacts; retraining per
    # query batch is only the default for self-contained determinism
    if index is not None and (centroids is None or codebooks is None):
        raise ValueError("index requires the centroids/codebooks it was built with")
    cents = centroids if centroids is not None else kmeans_lite_centroids(
        corpus, n_cells, iters, id_col, vec_col
    )
    books = codebooks if codebooks is not None else pq_codebooks(
        corpus, m_sub, ksub, iters, id_col, vec_col
    )
    dsub = len(books[0][0])
    m_sub = len(books)
    cb = (
        index.select(
            F.col(id_col).alias("neighbor_id"), "cell", "codes"
        )
        if index is not None
        else encode_pq(corpus, cents, books, id_col, vec_col).select(
            F.col(id_col).alias("neighbor_id"), "cell", "codes"
        )
    )

    # query side: nprobe coarse cells (same probe order as ivf_topk) and
    # the per-subspace ADC lookup tables
    ranked_cells = F.transform(
        F.array_sort(
            F.arrays_zip(
                _dists_to_centroids("qv", cents),
                F.array(*[F.lit(i) for i in range(len(cents))]),
            )
        ),
        lambda s: s["1"],
    )
    luts = [
        _dists_to_centroids(f"slice(qv, {m * dsub + 1}, {dsub})", books[m]).alias(
            f"_lut{m}"
        )
        for m in range(m_sub)
    ]
    # same two-step discipline: LUTs + probe ranking materialize once per
    # query, the explode only fans out the (tiny) probe list
    qb = queries.select(
        "query_id", *luts, F.slice(ranked_cells, 1, nprobe).alias("_probe")
    ).select(
        "query_id",
        *[f"_lut{m}" for m in range(m_sub)],
        F.explode("_probe").alias("cell"),
    )

    pairs = cb.join(F.broadcast(qb), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = F.expr(
        " + ".join(
            f"element_at(_lut{m}, element_at(codes, {m + 1}) + 1)"
            for m in range(m_sub)
        )
    )
    scored = pairs.select("query_id", "neighbor_id", adc.alias("d"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("d"), 6).asc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if refine is None:
        return ranked.where(F.col("rnk") <= k).select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("d", 6).alias("adc_dist"),
        )

    # FAISS-style refine: the compressed ADC scan only nominates
    # k*refine candidates per query; those few rows (|q|*k*refine) join
    # back to the FULL vectors for an exact squared-L2 re-rank. This is
    # what restores recall lost to code quantization while still never
    # touching more than a sliver of the raw corpus.
    cand = ranked.where(F.col("rnk") <= k * refine).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    qvec = queries.select("query_id", F.col("qv").alias("_qv"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("_qv"),
            F.col("_nv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    refined = (
        cand.join(nvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", d2.alias("d"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.round(F.col("d"), 6).asc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("d", 6).alias("l2_dist"),
        )
    )


def build_ivfpq(
    corpus: DataFrame,
    n_cells: int = 16,
    m_sub: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """Train coarse centroids + PQ codebooks and encode the corpus —
    returns (centroids, codebooks, index DataFrame).

    The two trainings are independent job chains, so they run on two
    driver threads and their Spark jobs interleave across the executor
    pool (halves wall time at small SF where per-job latency dominates;
    at scale each pass is executor-bound and the overlap still hides one
    chain's scheduling gaps). Results are deterministic — threading
    changes only job timing, not any aggregation input.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_cents = pool.submit(
            kmeans_lite_centroids, corpus, n_cells, iters, id_col, vec_col
        )
        f_books = pool.submit(
            pq_codebooks, corpus, m_sub, ksub, iters, id_col, vec_col
        )
        cents, books = f_cents.result(), f_books.result()
    return cents, books, encode_pq(corpus, cents, books, id_col, vec_col)


def deploy_ivfpq_index(
    index: DataFrame,
    table: str,
    n_buckets: int = 32,
) -> None:
    """Persist the :func:`encode_pq` artifact as a CELL-BUCKETED table
    — the IVF-PQ deployment step, mirroring the inverted-index
    deployment (`storage.write_bucketed` by term). Bucketing by cell
    means an online query batch's probe filter prunes the scan to the
    probed cells' buckets (SelectedBucketsCount in the plan): at 100 TB
    a 4-of-1024-cells probe reads ~0.4% of the index files instead of
    all of them."""
    from alphalens_spark import storage

    storage.write_bucketed(
        index, table, ["cell"], n_buckets=n_buckets, sort_cols=["cell"]
    )


def search_ivfpq_index(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    refine: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Online ANN over a DEPLOYED cell-bucketed index table: the query
    batch's probed-cell union is evaluated first (with the identical
    probe-ranking expression :func:`ivfpq_topk` uses, so the filter is
    an exact superset of what the join will probe — no ulp divergence
    between a driver-side replica and the executor arithmetic) and
    pushed as an IN filter on the stored table, letting the bucketed
    scan prune to the probed buckets. Result is row-identical to
    :func:`ivfpq_topk` over the full index. ``refine`` needs ``corpus``
    (the full vectors) for the exact re-rank stage."""
    from alphalens_spark import storage

    if refine is not None and corpus is None:
        raise ValueError("refine re-ranks against full vectors: pass corpus")
    ranked_cells = F.transform(
        F.array_sort(
            F.arrays_zip(
                _dists_to_centroids("qv", centroids),
                F.array(*[F.lit(i) for i in range(len(centroids))]),
            )
        ),
        lambda s: s["1"],
    )
    probed = sorted(
        r["cell"]
        for r in queries.select(
            F.explode(F.slice(ranked_cells, 1, nprobe)).alias("cell")
        )
        .distinct()
        .collect()
    )
    stored = storage.read_table(spark, table).where(
        F.col("cell").isin(probed)
    )
    return ivfpq_topk(
        corpus if corpus is not None else queries,
        queries,
        k=k,
        nprobe=nprobe,
        refine=refine,
        centroids=centroids,
        codebooks=codebooks,
        index=stored.withColumnRenamed("vec_id", id_col)
        if id_col != "vec_id" and "vec_id" in stored.columns
        else stored,
        id_col=id_col,
        vec_col=vec_col,
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    seed: int = 11,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dense gaussian map
    R^dim → R^out_dim with the conventional 1/√out_dim scaling, so
    pairwise distances are preserved in expectation. The standard
    pre-step before clustering / ANN when the source dimension makes
    per-vector arithmetic the bottleneck — at 100 TB an 8× narrower
    vector is 8× less shuffle and 8× fewer multiplies everywhere
    downstream.

    The projection matrix is the same deterministic driver-side
    hyperplane generator the sign-LSH family uses (tiny out_dim × dim
    literal folded into the plan); each executor computes out_dim dot
    products with built-in expressions — a pure projection: no shuffle,
    no UDF, and the seeded literals replay in plain SQL for the oracle.
    Output: (id, projection array<double>).
    """
    import math

    planes = _hyperplanes(out_dim, dim, seed)
    margins = _plane_margins(vec_col, planes)
    s = 1.0 / math.sqrt(out_dim)
    proj = F.transform(margins, lambda x: x * F.lit(s))
    return df.select(F.col(id_col), proj.alias("projection"))


def pca_fit(
    df: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float], list[float]]:
    """Distributed PCA fit: the data-dependent complement to
    :func:`random_projection` (JL preserves distances obliviously; PCA
    finds the directions that actually carry the corpus's variance).

    Spark-first split identical to MLlib's RowMatrix PCA: the cluster
    computes the (dim, dim) second-moment matrix in ONE aggregation —
    dim means + dim·(dim+1)/2 upper-triangle cross sums, all map-side
    combined, only ~dim² scalars cross the wire — and the driver runs
    the O(dim³) symmetric eigendecomposition on that tiny matrix
    (``numpy.linalg.eigh``). No iteration over the data, no per-row
    Python. Sign convention: each component's largest-|loading|
    coordinate is made positive, so the fit is reproducible across runs
    and partitionings up to fp-sum ordering.

    Returns (components [out_dim×dim rows], explained_variance,
    means).
    """
    import numpy as np

    v = F.col(vec_col)
    sums = [F.sum(F.element_at(v, i + 1)).alias(f"s{i}") for i in range(dim)]
    crosses = [
        F.sum(
            F.element_at(v, i + 1) * F.element_at(v, j + 1)
        ).alias(f"c{i}_{j}")
        for i in range(dim)
        for j in range(i, dim)
    ]
    row = df.agg(F.count(F.lit(1)).alias("n"), *sums, *crosses).collect()[0]
    n = row["n"]
    mu = np.array([row[f"s{i}"] for i in range(dim)]) / n
    C = np.zeros((dim, dim))
    for i in range(dim):
        for j in range(i, dim):
            # covariance from raw moments: E[xy] - mx*my (sample-scaled)
            cij = row[f"c{i}_{j}"] / n - mu[i] * mu[j]
            C[i, j] = C[j, i] = cij * n / max(n - 1, 1)
    w, V = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:out_dim]
    comps, ev = [], []
    for k in order:
        c = V[:, k]
        if c[np.argmax(np.abs(c))] < 0:
            c = -c  # deterministic sign
        comps.append([float(x) for x in c])
        ev.append(float(w[k]))
    return comps, ev, [float(x) for x in mu]


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    means: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto fitted components — (v − μ)·cᵀ as plan-folded
    literals, the same pure-projection shape as random_projection (no
    shuffle, no UDF). Output: (id, projection array<double>)."""
    mu = _vector_expr(float(x) for x in means)
    centered = F.zip_with(F.col(vec_col), mu, lambda a, b: a - b)
    dots = []
    for c in components:
        dots.append(_dot(centered, _vector_expr(float(x) for x in c)))
    return df.select(F.col(id_col), F.array(*dots).alias("projection"))


def knn_label_predict(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction over a labeled embedding
    corpus — the semi-supervised labeling / weak-supervision primitive
    (label the unlabeled split from its nearest labeled neighbors).

    Neighbors come from the exact cosine top-k (vectorized BLAS path);
    at corpus-sized query sets swap :func:`ivf_topk` in for the same
    vote — the vote is agnostic to the candidate generator. Majority
    vote per query with deterministic tie-break (votes desc, label asc);
    the vote aggregation and the winner window are both keyed by
    query_id — linear shuffles only.

    Output: (query_id, pred_label, votes) — one row per query.
    """
    nbrs = brute_force_topk_vectorized(corpus, queries, k, id_col, vec_col)
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_lab")
    )
    votes = (
        nbrs.join(lab, "neighbor_id")
        .groupBy("query_id", "_lab")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("_lab")
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("_lab").alias("pred_label"),
            F.col("votes").cast("int").alias("votes"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lo: float = 0.3,
    hi: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each query, the k most
    similar corpus vectors whose cosine lies in [lo, hi) AND whose label
    differs from the query's — similar enough to be informative
    negatives, below the near-duplicate band where a "negative" is
    really an unlabeled positive (the standard curation band for
    contrastive/embedding training data).

    queries: (query_id, qv, qlabel). Same broadcast-small-side /
    stream-corpus shape as :func:`brute_force_topk` (guarded by
    MAX_BRUTE_FORCE_QUERIES); swap the candidate generator for
    :func:`ivf_topk` output at corpus-sized query sets — the band/label
    filter and ranking are generator-agnostic. Deterministic:
    (rounded cosine desc, neighbor id) ranking.

    Output: (query_id, neighbor_id, neg_label, rnk, cos_sim).
    """
    _guard_query_count(queries.count())
    corpus_n = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    queries_n = queries.select(
        "query_id", "qv", "qlabel", _norm(F.col("qv")).alias("_qn")
    )
    pairs = corpus_n.join(
        F.broadcast(queries_n), F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.lit(0.0) + F.round(
        _dot(F.col("qv"), F.col("_v")) / (F.col("_qn") * F.col("_vn")), 6
    )
    scored = pairs.select(
        "query_id", "neighbor_id", "neg_label", "qlabel", cos.alias("cs")
    ).where(
        (F.col("cs") >= lo) & (F.col("cs") < hi) & (F.col("neg_label") != F.col("qlabel"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cs").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("cs").alias("cos_sim"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): pick ``k`` results per query that trade relevance against
    redundancy — ``score(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)``,
    greedily, starting from the most relevant candidate. The standard
    post-retrieval diversification for RAG/context assembly (don't feed
    the model five near-copies of the same passage).

    Scale shape: retrieval stays the existing distributed top-k
    (:func:`brute_force_topk_vectorized` — swap in ivf/lsh upstream for
    bigger corpora); only the per-query candidate POOL (``pool`` rows,
    bounded) enters the greedy, which runs as one Arrow-batched
    ``applyInPandas`` over query groups — state is pool×dim per group,
    never corpus-sized, and queries parallelize across the cluster.

    Determinism/oracle contract: rel and pairwise sims round to 6dp
    BEFORE scoring; with integer-scaled λ the raw score is then
    bit-identical on every IEEE engine, so candidates rank by
    (score DESC, id ASC) and the score exports as an exact integer
    micro-score. Output: (query_id, neighbor_id, mmr_rank,
    mmr_score_e7 = score·10⁷ as a long).
    """
    import numpy as np
    import pandas as pd

    cand = brute_force_topk_vectorized(corpus, queries, pool, id_col, vec_col)
    cand_v = cand.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cos_sim", "_v")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["cos_sim"].to_numpy().round(6)
        V = np.array(list(pdf["_v"]), dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = (Vn @ Vn.T).round(6)
        n = len(ids)
        chosen: list[int] = []
        scores: list[float] = []
        maxsim = np.zeros(n)  # real values install on the first pick
        picked = np.zeros(n, dtype=bool)
        # integer-scaled λ: (lam_n·rel − (10⁶−lam_n)·maxsim)/10⁶ uses only
        # exactly-representable coefficients, so any IEEE engine (numpy
        # here, DuckDB in the oracle) computes the bit-identical score —
        # a bare (1−λ) differs between binary-double and decimal engines.
        lam_n = round(lam * 1_000_000)
        for t in range(min(k, n)):
            # raw score, no re-round: on 6dp-rounded inputs with integer
            # coefficients every IEEE engine produces the bit-identical
            # double, so ranking and the integer micro-score replay
            # exactly. (Rounding HERE would land on exact .5 boundaries
            # of the 1e-7 score grid, where numpy half-even and SQL
            # half-away diverge — measured 45/75 rows off by 1e-6.)
            if t == 0:
                score = lam_n * rel / 1e6  # no selected set yet
            else:
                score = (lam_n * rel - (1_000_000 - lam_n) * maxsim) / 1e6
            # argmax by (score desc, id asc) over unpicked candidates
            order = np.lexsort((ids, -score))
            best = next(i for i in order if not picked[i])
            picked[best] = True
            chosen.append(int(ids[best]))
            scores.append(int(round(score[best] * 1e7)))
            # max over the SELECTED SET only — sims can be negative, so
            # the first pick INSTALLS its column rather than maxing
            # against the zero init (which would clamp at 0)
            maxsim = S[:, best] if t == 0 else np.maximum(maxsim, S[:, best])
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": chosen,
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "mmr_score_e7": scores,
            }
        )

    out_schema = (
        "query_id long, neighbor_id long, mmr_rank int, mmr_score_e7 long"
    )
    return cand_v.groupBy("query_id").applyInPandas(greedy, out_schema)


def rrf_fuse(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of N per-query
    rankings — the standard hybrid-search combiner (lexical BM25/idf
    leg + embedding-cosine leg, or any mix): each list contributes
    ``1/(rrf_k + rank)`` for every (query, doc) it ranks, and documents
    are re-ranked by the summed contribution. Rank positions are all
    that survives — RRF never compares raw scores across legs, which is
    exactly why it needs no per-leg calibration.

    Each input frame carries (query_id, doc_id, rnk). Contributions are
    quantized to the 1e-9 grid up front (``round(1e9/(rrf_k+rnk))`` as
    BIGINT) so the fused score is a summation-order-proof integer sum
    regardless of how many legs fuse — the mmr_rerank integer-grid
    lesson. Ties break on doc_id.

    Scale shape: a union of the leg frames (each already ≤ k rows per
    query by contract) → one groupBy on (query_id, doc_id) → a
    per-query window over ≤ N·k rows. Nothing corpus-sized shuffles.
    Output: (query_id, doc_id, n_legs, rrf_e9, fused_rank ≤ topk).
    """
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking leg")
    tagged = None
    for leg in rankings:
        contrib = leg.select(
            "query_id",
            "doc_id",
            F.round(F.lit(1e9) / (F.lit(rrf_k) + F.col("rnk")).cast("double"))
            .cast("long")
            .alias("_c"),
        )
        tagged = contrib if tagged is None else tagged.unionByName(contrib)
    fused = tagged.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_legs"),
        F.sum("_c").alias("rrf_e9"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_e9").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .where(F.col("fused_rank") <= topk)
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift monitor: per label, the cosine similarity
    between the reference snapshot's centroid and the current one's —
    the vector-space sibling of the scalar drift pair (PSI for
    distributions, KS for samples). A feed whose class/topic centroids
    rotate is drifting even when every scalar profile looks stable;
    this is the alarm a retraining trigger watches on an embedding
    column.

    Scale shape: each side is ONE posexplode → groupBy (label, dim)
    mean — linear in rows, state bounded by |labels|·dim — then a
    dimension-keyed join of the two centroid tables and a per-label
    1-row cosine aggregate. Raw vectors never pair-join. Means and the
    final cosine carry the usual 6-dp rounding (groupBy float sums are
    summation-order noisy at the ulp level, the round-4 lesson).
    Output: (label, n_ref, n_cur, cos_sim, drift = round(1 − cos, 6)).
    """

    def side(df, tag, ntag):
        # ONE scan per snapshot: posexplode_outer keeps a (pos NULL) row
        # for empty/NULL vectors, so the per-label row count rides the
        # same (label, pos) aggregation as the centroid — every input
        # row lands in exactly one of pos == 0 / pos IS NULL — instead
        # of a second scan per side (guide §2.4); checkpointed, as the
        # centroid join and the count rollup both read it (guide §5).
        g = checkpoint(
            df.select(
                F.col(label_col).alias("label"),
                F.posexplode_outer(F.col(vec_col)).alias("pos", "_v"),
            )
            .groupBy("label", "pos")
            .agg(
                F.avg(F.col("_v").cast("double")).alias(tag),
                F.count(F.lit(1)).alias("_c"),
            )
        )
        n = g.groupBy("label").agg(
            F.sum(
                F.when((F.col("pos") == 0) | F.col("pos").isNull(), F.col("_c"))
            )
            .cast("long")
            .alias(ntag)
        )
        return g.where(F.col("pos").isNotNull()).select("label", "pos", tag), n

    cr, nr = side(ref, "mr", "n_ref")
    cc, nc = side(cur, "mc", "n_cur")
    j = cr.join(cc, ["label", "pos"])
    per = j.groupBy("label").agg(
        F.sum(F.col("mr") * F.col("mc")).alias("_dot"),
        F.sum(F.col("mr") * F.col("mr")).alias("_nr2"),
        F.sum(F.col("mc") * F.col("mc")).alias("_nc2"),
    )
    cos = F.col("_dot") / (F.sqrt(F.col("_nr2")) * F.sqrt(F.col("_nc2")))
    return (
        per.join(nr, "label")
        .join(nc, "label")
        .select(
            "label",
            "n_ref",
            "n_cur",
            (F.round(cos, 6) + F.lit(0.0)).alias("cos_sim"),
            (F.round(F.lit(1.0) - cos, 6) + F.lit(0.0)).alias("drift"),
        )
    )
