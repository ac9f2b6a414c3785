"""The benchmark's workloads: seeded inputs, the op types, and the checks.

Each op is one call into the library's public API whose result is
collected or counted, so the op's wall time is what a user of that call
waits for. Ops never go through ``entry_queries``' ``q_*`` functions:
their per-session caches would turn every repeat into a cache hit.

A workload exposes ``setup()`` (generate and persist inputs), ``op_types``
(name -> (layer, run, check)), ``sequence(n)`` and ``prepare(seq)``
(per-op inputs). ``run()`` returns ``(value, release)``; the harness times
``run()`` and ``release()``, and calls ``check(value)`` between them,
untimed. ``check`` raises ``CheckFailed`` when the output is wrong.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
from itertools import combinations

import numpy as np
import pandas as pd

from perfbench import inputs

PERIODS = (1, 5, 10)
PERIOD_COLS = [f"{p}D" for p in PERIODS]
QUANTILES = 5


class CheckFailed(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    keys = [c for c in pdf.columns if not pd.api.types.is_float_dtype(pdf[c])]
    return pdf.sort_values(keys).reset_index(drop=True) if keys else pdf.reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9, atol: float = 1e-12) -> bool:
    """Equal up to row order, with floats compared by tolerance (AQE may
    reorder a floating-point sum between runs)."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    got, want = _sorted(got), _sorted(want)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c]):
            if not np.allclose(a.astype(float), b.astype(float), rtol=rtol, atol=atol, equal_nan=True):
                return False
        elif not (got[c].astype(str).to_numpy() == want[c].astype(str).to_numpy()).all():
            return False
    return True


def _capture_stdout(fn):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out = fn()
    return out, buf.getvalue()


# ------------------------------------------------------------ pandas models


def reference_factor_data(prices: pd.DataFrame, groups: pd.DataFrame, factor: pd.DataFrame):
    """The reference semantics of ``get_clean_factor_and_forward_returns``
    with its defaults (periods 1/5/10, 5 quantiles, z-score 20, max_loss
    0.35), in pandas over the same panel. Returns the cleaned frame and the
    loss-report line the library prints."""
    wide = prices.pivot(index="date", columns="asset", values="price")
    fwd = {}
    for p, c in zip(PERIODS, PERIOD_COLS):
        fwd[c] = (wide.shift(-p) / wide - 1.0).stack(future_stack=True)
    fr = pd.DataFrame(fwd)
    fr = fr[wide.stack(future_stack=True).notna()].reset_index()
    for c in PERIOD_COLS:
        g = fr.groupby("asset")[c]
        out = (fr[c] - g.transform("mean")).abs() > 20.0 * g.transform("std")
        fr.loc[out, c] = np.nan
    fac = factor[np.isfinite(factor["factor"])]
    initial = len(fac)
    merged = fr.merge(fac, on=["date", "asset"]).merge(groups, on="asset")
    merged = merged.dropna(subset=PERIOD_COLS)
    after_fwd = len(merged)
    merged["factor_quantile"] = merged.groupby("date")["factor"].transform(
        lambda s: pd.qcut(s, QUANTILES, labels=False) + 1
    )
    clean = merged.dropna(subset=["factor_quantile"]).copy()
    clean["factor_quantile"] = clean["factor_quantile"].astype(np.int64)
    final = len(clean)
    fwd_loss = 1.0 - after_fwd / initial
    bin_loss = (after_fwd - final) / initial
    report = (
        "Dropped %.1f%% entries from factor data: %.1f%% in forward "
        "returns computation and %.1f%% in binning phase "
        "(set max_loss=0 to see potentially suppressed Exceptions)."
        % ((fwd_loss + bin_loss) * 100, fwd_loss * 100, bin_loss * 100)
    )
    return clean, report


def reference_ic(fd: pd.DataFrame) -> pd.DataFrame:
    """Per-date Spearman IC. Values are ranked on the 6-decimal grid, as
    the library documents for its rank keys."""
    keys = fd[["factor", *PERIOD_COLS]].round(6)
    keys["date"] = fd["date"].to_numpy()
    ranks = keys.groupby("date")[["factor", *PERIOD_COLS]].rank(method="average")
    ranks["date"] = fd["date"].to_numpy()
    out = {}
    for c in PERIOD_COLS:
        out[f"ic_{c}"] = ranks.groupby("date").apply(lambda g, c=c: g["factor"].corr(g[c]))
    return pd.DataFrame(out).reset_index()


def reference_mean_return_by_quantile(fd: pd.DataFrame) -> pd.DataFrame:
    dm = fd.copy()
    for c in PERIOD_COLS:
        dm[c] = dm[c] - dm.groupby("date")[c].transform("mean")
    by_date = dm.groupby(["factor_quantile", "date"])[PERIOD_COLS].mean()
    out = by_date.groupby("factor_quantile").mean()
    out.columns = [f"mean_{c}" for c in out.columns]
    return out.reset_index()


# ----------------------------------------------------------------- workloads


class Workload:
    """Base: holds the session, the seeded generator and the work dir."""

    def __init__(self, spark, rng: np.random.Generator, workdir: str):
        self.spark = spark
        self.rng = rng
        self.workdir = workdir
        self.op_types: dict = {}

    def prepare(self, seq: list[str]) -> None:
        """Generate any per-op inputs the ops in ``seq`` consume."""

    def read(self, pdf: pd.DataFrame, name: str):
        path = inputs.write_parquet(pdf, os.path.join(self.workdir, "inputs", f"{name}.parquet"))
        return self.spark.read.parquet(path)

    def persist(self, df):
        df = df.persist()
        df.count()
        return df

    def check_same(self, name: str, independent=None):
        """A check that runs ``independent`` (if any) on every result and
        compares it with the op type's first result: a frame, a dict of
        frames (a tear sheet) or a (count, frame) pair."""
        first: dict = {}

        def check(value):
            if independent is not None:
                independent(value)
            if name not in first:
                first[name] = value
                return
            want = first[name]
            if isinstance(value, dict):
                _expect(value.keys() == want.keys(), f"{name}: sheet tables changed")
                pairs = [(value[k], want[k]) for k in value]
            elif isinstance(value, tuple):
                _expect(value[0] == want[0], f"{name}: count changed")
                pairs = [(value[1], want[1])]
            else:
                pairs = [(value, want)]
            _expect(all(frames_match(a, b) for a, b in pairs), f"{name} changed since its first call")

        return check

    def counts(self, n: int) -> dict[str, int]:
        """Ops per type in a run of about ``n`` ops: equal shares, each
        type at least once."""
        names = list(self.op_types)
        return {k: max(1, n // len(names) + (i < n % len(names))) for i, k in enumerate(names)}

    def sequence(self, n: int) -> list[str]:
        """The run's op sequence: every type's ops spread evenly over the
        run, in the same order for every seed.

        The order does not depend on the seed because the JVM keeps
        speeding up for many calls of each op type (one probe: IC 0.83 s
        on its third call, 0.50 s on its twelfth); a seeded order would
        put each type at a different point of that curve in each run,
        which alone spread the median across seeds by ~15%.
        """
        slots = [
            ((j + 0.5) / c, i, k)
            for i, (k, c) in enumerate(self.counts(n).items())
            for j in range(c)
        ]
        return [k for _, _, k in sorted(slots)]


class Factor(Workload):
    """The alphalens use pattern: clean a factor against persisted prices
    (``utils``), then fan many metric tables out of one persisted
    ``factor_data`` (``performance``, ``tears``).

    Most ops are metric tables over the setup-time ``factor_data``; one in
    INGEST_EVERY cleans a fresh factor read from its own parquet file, and
    one in SHEET_EVERY is the summary tear sheet.
    """

    N_ASSETS, N_DAYS = 200, 128
    INGEST_EVERY = 13
    SHEET_EVERY = 13

    def setup(self):
        from alphalens_spark import performance as perf
        from alphalens_spark import tears

        panel, groups = inputs.price_panel(self.rng, self.N_ASSETS, self.N_DAYS)
        self.panel_pd, self.groups_pd = panel, groups
        self.prices = self.persist(self.read(panel, "prices"))
        self.groups = self.persist(self.read(groups, "groups"))
        self.factor_paths: list[str] = []
        self.factors_pd: list[pd.DataFrame] = []
        self.n_ingested = 0
        self.op_types["clean_factor"] = ("utils", self._ingest, self._check_ingest)

        # the setup-time factor_data is cleaned the same way as every
        # clean_factor op, and checked the same way
        self.prepare(["clean_factor"])
        value, _ = self._ingest()
        self._check_ingest(value)
        self.fd = fd = value[1]
        fd_pd = fd.toPandas()
        models = {
            "ic": reference_ic(fd_pd),
            "mean_return_by_quantile": reference_mean_return_by_quantile(fd_pd),
        }

        def matches_model(name):
            want = models[name]

            def check(got):
                _expect(frames_match(got[list(want.columns)], want, rtol=1e-8, atol=1e-10),
                        f"{name} differs from the pandas model")

            return check

        cols = PERIOD_COLS
        tables = {
            "ic": lambda: perf.factor_information_coefficient(fd, cols),
            "mean_ic_monthly": lambda: perf.mean_information_coefficient(fd, cols, by_time="month"),
            "mean_return_by_quantile": lambda: perf.mean_return_by_quantile(fd, cols),
            "mean_return_by_date": lambda: perf.mean_return_by_quantile(fd, cols, by_date=True),
            "returns_spread": lambda: perf.compute_mean_returns_spread(
                perf.mean_return_by_quantile(fd, cols, by_date=True), QUANTILES, 1, cols
            ),
            "factor_returns": lambda: perf.factor_returns(fd, cols),
            "alpha_beta": lambda: perf.factor_alpha_beta(fd, cols),
            "quantile_turnover": lambda: perf.quantile_turnover(fd, periods=PERIODS),
            "rank_autocorrelation": lambda: perf.factor_rank_autocorrelation(fd, 1),
            "cumulative_returns": lambda: perf.cumulative_returns(
                perf.factor_returns(fd, cols), "ret_1D"
            ),
            "event_returns": lambda: perf.average_cumulative_return_by_quantile(
                fd, self.prices, 3, 5
            ),
        }
        for name, build in tables.items():
            run = (lambda build=build: (build().toPandas(), None))
            model = matches_model(name) if name in models else None
            self.op_types[name] = ("performance", run, self.check_same(name, model))
        self.op_types["summary_tear_sheet"] = (
            "tears",
            lambda: (tears.create_summary_tear_sheet(fd), None),
            self.check_same("summary_tear_sheet"),
        )

    def prepare(self, seq):
        """One fresh factor file per clean_factor op in ``seq``."""
        for _ in range(seq.count("clean_factor")):
            fac = inputs.factor_values(self.rng, self.panel_pd)
            path = os.path.join(self.workdir, "inputs", f"factor_{len(self.factor_paths)}.parquet")
            self.factor_paths.append(inputs.write_parquet(fac, path))
            self.factors_pd.append(fac)

    def _ingest(self):
        from alphalens_spark import utils

        i = self.n_ingested
        self.n_ingested += 1
        factor = self.spark.read.parquet(self.factor_paths[i])

        def clean():
            fd = utils.get_clean_factor_and_forward_returns(
                factor, self.prices, groupby=self.groups
            ).persist()
            return fd, fd.count()

        (fd, n), printed = _capture_stdout(clean)
        return (i, fd, n, printed), lambda: fd.unpersist(blocking=True)

    def _check_ingest(self, value):
        i, fd, n, printed = value
        want, report = reference_factor_data(self.panel_pd, self.groups_pd, self.factors_pd[i])
        _expect(n == len(want), f"row count {n} != {len(want)}")
        _expect(report in printed, f"loss report {printed!r} != {report!r}")
        got = fd.select("date", "asset", "factor_quantile", *PERIOD_COLS).toPandas()
        keys = ["date", "asset"]
        got = got.sort_values(keys).reset_index(drop=True)
        want = want.sort_values(keys).reset_index(drop=True)
        for k in keys:
            _expect((got[k].to_numpy() == want[k].to_numpy()).all(), f"row keys ({k}) differ")
        _expect((got["factor_quantile"].to_numpy() == want["factor_quantile"].to_numpy()).all(),
                "quantile labels differ")
        for c in PERIOD_COLS:
            _expect(np.allclose(got[c], want[c], rtol=1e-9, atol=0.0), f"forward returns {c} differ")

    def counts(self, n):
        """``clean_factor`` and the summary sheet at their shares of ``n``,
        the tables in equal shares of the rest; every type at least once."""
        heavy = {"clean_factor": self.INGEST_EVERY, "summary_tear_sheet": self.SHEET_EVERY}
        tables = [k for k in self.op_types if k not in heavy]
        out = {k: max(1, round(n / every)) for k, every in heavy.items()}
        rest = max(len(tables), n - sum(out.values()))
        out.update({k: rest // len(tables) + (i < rest % len(tables)) for i, k in enumerate(tables)})
        return out


class Corpus(Workload):
    """Scale operators over a seeded Zipf corpus, vectors and baskets."""

    N_DOCS, NEAR_DUP_SHARE, EXACT_DUP_SHARE = 2000, 0.08, 0.03
    N_VECS, DIM, N_QUERIES = 3000, 32, 20
    N_BASKETS, N_ITEMS = 4000, 300
    MINHASH_RECALL_FLOOR = 0.9
    SIMHASH_RECALL_FLOOR = 0.5

    def setup(self):
        from pyspark.sql import functions as F

        from alphalens_spark import graph
        from alphalens_spark.scale import affinity, curation, dedup, profile, similarity, text

        docs_pd = inputs.documents(self.rng, self.N_DOCS, self.NEAR_DUP_SHARE, self.EXACT_DUP_SHARE)
        emb_pd, q_pd = inputs.embeddings(self.rng, self.N_VECS, self.DIM, self.N_QUERIES)
        bk_pd = inputs.baskets(self.rng, self.N_BASKETS, self.N_ITEMS)
        self.docs_pd, self.emb_pd, self.q_pd, self.bk_pd = docs_pd, emb_pd, q_pd, bk_pd
        docs = self.persist(self.read(docs_pd[["doc_id", "text"]], "documents"))
        emb = self.persist(self.read(emb_pd, "embeddings"))
        queries = self.persist(self.read(q_pd, "queries"))
        bk = self.persist(self.read(bk_pd, "baskets"))
        common = docs_pd["text"].str.split().explode().value_counts().index[:40]
        terms = list(self.rng.choice(common, size=3, replace=False))
        self.recall: dict = {}
        self.precision: dict = {}

        def pairs_op():
            pairs = affinity.cooccurrence_pairs(bk, "basket", "item", min_count=2).persist()
            n = pairs.count()
            edges = pairs.select(
                F.col("item_a").alias("src"), F.col("item_b").alias("dst"), "n_baskets"
            )
            # small_graph_edges=0: the distributed, checkpointed iteration a
            # graph beyond the driver-side fast path's 500k edges takes
            pr = graph.pagerank(
                edges, n_iter=5, weight_col="n_baskets", small_graph_edges=0
            ).toPandas()
            return (n, pr), lambda: pairs.unpersist(blocking=True)

        ops = {
            "exact_duplicates": ("scale.dedup", lambda: dedup.exact_duplicates(docs), self._check_exact),
            "minhash_clusters": ("scale.dedup", lambda: dedup.duplicate_clusters(docs), self._check_minhash),
            "simhash_duplicates": ("scale.dedup", lambda: dedup.simhash_duplicates(docs), self._check_simhash),
            "token_stats": ("scale.text", lambda: text.token_stats(docs), self._check_tokens),
            "bm25": ("scale.text", lambda: text.bm25_scores(docs, terms), None),
            "tfidf_top_terms": ("scale.text", lambda: text.tfidf_top_terms(docs, n_top=5), None),
            "chunk_documents": ("scale.curation", lambda: curation.chunk_documents(docs, 32, 16), None),
            "heavy_hitters": ("scale.profile", lambda: profile.heavy_hitters(bk, "item", k=10), self._check_heavy),
            "vector_topk": (
                "scale.similarity",
                lambda: similarity.brute_force_topk_vectorized(emb, queries, 5),
                self._check_topk,
            ),
        }
        for name, (layer, build, check) in ops.items():
            run = (lambda build=build: (build().toPandas(), None))
            self.op_types[name] = (layer, run, self.check_same(name, check))
        self.op_types["cooccurrence_pagerank"] = (
            "scale.affinity", pairs_op, self.check_same("cooccurrence_pagerank", self._check_pagerank),
        )

    # independent checks ---------------------------------------------------

    def _check_exact(self, got):
        want = self.docs_pd.groupby("text")["doc_id"].agg(["min", "count"]).reset_index()
        want["text_hash"] = [hashlib.md5(t.encode()).hexdigest() for t in want["text"]]
        want = want.rename(columns={"min": "keep_id", "count": "n_dups"})[["text_hash", "keep_id", "n_dups"]]
        _expect(frames_match(got[["text_hash", "keep_id", "n_dups"]], want), "exact-duplicate groups differ")

    def _planted_pairs(self) -> set:
        fam = self.docs_pd.groupby("family")["doc_id"].apply(sorted)
        return {p for ids in fam if len(ids) > 1 for p in combinations(ids, 2)}

    def _check_minhash(self, got):
        truth = self._planted_pairs()
        clusters = got.groupby("canonical_id")["doc_id"].apply(sorted)
        found = {p for ids in clusters if len(ids) > 1 for p in combinations(ids, 2)}
        hit = len(found & truth)
        self.recall["minhash"] = hit / len(truth)
        self.precision["minhash"] = hit / len(found) if found else 1.0
        _expect(self.recall["minhash"] >= self.MINHASH_RECALL_FLOOR,
                f"minhash recall {self.recall['minhash']:.3f} below floor")

    def _check_simhash(self, got):
        truth = self._planted_pairs()
        found = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
        recall = len(found & truth) / len(truth)
        self.recall["simhash"] = recall
        _expect(recall >= self.SIMHASH_RECALL_FLOOR, f"simhash recall {recall:.3f} below floor")

    def _check_tokens(self, got):
        toks = self.docs_pd["text"].str.strip().str.lower().str.split()
        want = pd.DataFrame(
            {
                "doc_id": self.docs_pd["doc_id"],
                "n_tokens": toks.map(len).astype(np.int32),
                "n_distinct_tokens": toks.map(lambda t: len(set(t))).astype(np.int32),
            }
        )
        _expect(frames_match(got[["doc_id", "n_tokens", "n_distinct_tokens"]], want), "token stats differ")

    def _check_heavy(self, got):
        counts = self.bk_pd["item"].value_counts()
        true = counts.reindex(got["item"]).to_numpy()
        _expect((got["est_count"].to_numpy() >= true).all(), "count-min estimate below the true count")
        _expect(counts.index[0] in set(got["item"]), "top item missing from heavy hitters")

    def _check_topk(self, got):
        v = np.stack(self.emb_pd["embedding"].to_numpy()).astype(np.float64)
        q = np.stack(self.q_pd["qv"].to_numpy()).astype(np.float64)
        s = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (v / np.linalg.norm(v, axis=1, keepdims=True)).T
        for qi, qid in enumerate(self.q_pd["query_id"]):
            row = got[got["query_id"] == qid].sort_values("rnk")
            want = np.argsort(-np.round(s[qi], 6), kind="stable")[: len(row)]
            _expect(len(row) == 5, f"query {qid}: {len(row)} neighbours")
            _expect(set(row["neighbor_id"]) == set(self.emb_pd["vec_id"].to_numpy()[want]),
                    f"query {qid}: wrong neighbours")

    def _check_pagerank(self, value):
        n_pairs, pr = value
        items = self.bk_pd.drop_duplicates()
        sets = items.groupby("basket")["item"].apply(sorted)
        pair_counts: dict = {}
        for s in sets:
            for p in combinations(s, 2):
                pair_counts[p] = pair_counts.get(p, 0) + 1
        want_pairs = sum(1 for c in pair_counts.values() if c >= 2)
        _expect(n_pairs == want_pairs, f"co-occurrence pairs {n_pairs} != {want_pairs}")
        _expect(abs(pr["pagerank"].sum() - 1.0) < 1e-6, "pagerank does not sum to 1")


WORKLOADS = {"factor": Factor, "corpus": Corpus}
