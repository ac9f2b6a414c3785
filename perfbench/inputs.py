"""Seeded input generation for the benchmark workloads.

Everything here is plain numpy/pandas: the library under test receives
only the generated inputs, read back from parquet. Timestamps are written
as microsecond parquet timestamps, because the library's session reads
nanosecond parquet timestamps as bigint (``spark.sql.legacy.parquet.
nanosAsLong``), which would change the plans being measured.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The distinct words of the documents table of the repository's sf0.1
# test data. The corpus vocabulary is these words plus every ordered
# two-word compound of them, ranked in a seeded order and drawn by Zipf.
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """Write ``pdf`` with datetime columns as microsecond timestamps."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type):
            table = table.set_column(i, field.name, table.column(i).cast(pa.timestamp("us")))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# --------------------------------------------------------------- factor side


def price_panel(rng: np.random.Generator, n_assets: int, n_days: int, missing: float = 0.05):
    """Long (date, asset, price) panel of geometric random walks on a
    business-day calendar with ``missing`` of the observations dropped,
    plus a static (asset, group) table."""
    dates = pd.bdate_range("2021-01-04", periods=n_days)
    steps = rng.normal(0.0003, 0.02, size=(n_days, n_assets))
    prices = 50.0 * np.exp(np.cumsum(steps, axis=0))
    keep = rng.random((n_days, n_assets)) >= missing
    panel = pd.DataFrame(
        {
            "date": np.repeat(dates.values, n_assets),
            "asset": np.tile(np.arange(n_assets, dtype=np.int64), n_days),
            "price": prices.ravel(),
        }
    )[keep.ravel()].reset_index(drop=True)
    groups = pd.DataFrame(
        {
            "asset": np.arange(n_assets, dtype=np.int64),
            "group": np.array([f"g{i % 8}" for i in range(n_assets)]),
        }
    )
    return panel, groups


def factor_values(rng: np.random.Generator, panel: pd.DataFrame, missing: float = 0.05):
    """A factor on the panel's (date, asset) rows: noise plus a weak
    trailing-return signal, with ``missing`` of the rows dropped."""
    wide = panel.pivot(index="date", columns="asset", values="price")
    momentum = wide.pct_change(5, fill_method=None).stack(future_stack=True).rename("mom")
    fac = panel[["date", "asset"]].join(momentum, on=["date", "asset"])
    signal = fac["mom"].fillna(0.0).to_numpy()
    fac["factor"] = 0.3 * signal / (np.nanstd(signal) or 1.0) + rng.normal(size=len(fac))
    keep = rng.random(len(fac)) >= missing
    return fac.loc[keep, ["date", "asset", "factor"]].reset_index(drop=True)


# --------------------------------------------------------------- corpus side


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    words = list(BASE_WORDS) + [f"{a}_{b}" for a in BASE_WORDS for b in BASE_WORDS if a != b]
    return np.array(words)[rng.permutation(len(words))]


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def documents(rng: np.random.Generator, n_docs: int, near_dup_share: float, exact_dup_share: float):
    """Zipf documents with planted near-duplicates and exact duplicates.

    A near-duplicate copies a source document and replaces ~4% of its
    tokens (at least one). Returns (doc_id, text, family): ``family`` is
    the doc_id of the document's source (its own id when unplanted), so
    two documents are planted duplicates exactly when they share a family.
    """
    vocab = vocabulary(rng)
    probs = zipf_probs(len(vocab))
    n_near = int(n_docs * near_dup_share)
    n_exact = int(n_docs * exact_dup_share)
    n_src = n_docs - n_near - n_exact
    texts: list[str] = []
    family: list[int] = []
    for i in range(n_src):
        length = int(rng.integers(40, 120))
        texts.append(" ".join(vocab[rng.choice(len(vocab), size=length, p=probs)]))
        family.append(i)
    sources = rng.choice(n_src, size=n_near + n_exact, replace=False)
    for j, src in enumerate(sources):
        toks = texts[src].split()
        if j < n_near:
            n_edit = max(1, int(round(0.04 * len(toks))))
            for pos in rng.choice(len(toks), size=n_edit, replace=False):
                toks[pos] = vocab[rng.integers(len(vocab))]
        texts.append(" ".join(toks))
        family.append(int(src))
    order = rng.permutation(len(texts))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": np.array(texts, dtype=object)[order],
        }
    )
    fam_by_old = np.array(family)
    # family ids refer to the source's *new* doc_id
    new_id_of_old = np.empty(len(texts), dtype=np.int64)
    new_id_of_old[order] = np.arange(len(texts))
    docs["family"] = new_id_of_old[fam_by_old[order]]
    return docs


def embeddings(rng: np.random.Generator, n_vecs: int, dim: int, n_queries: int):
    """Clustered float vectors and a query set drawn near random members."""
    centers = rng.normal(size=(16, dim))
    labels = rng.integers(0, 16, size=n_vecs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, dim))
    corpus = pd.DataFrame(
        {"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(vecs.astype(np.float32))}
    )
    picks = rng.choice(n_vecs, size=n_queries, replace=False)
    qv = vecs[picks] + 0.3 * rng.normal(size=(n_queries, dim))
    queries = pd.DataFrame(
        {"query_id": np.arange(n_vecs, n_vecs + n_queries, dtype=np.int64), "qv": list(qv.astype(np.float32))}
    )
    return corpus, queries


def baskets(rng: np.random.Generator, n_baskets: int, n_items: int):
    """(basket, item) lines: 2-7 Zipf-drawn items per basket."""
    probs = zipf_probs(n_items, 1.0)
    sizes = rng.integers(2, 8, size=n_baskets)
    items = rng.choice(n_items, size=int(sizes.sum()), p=probs)
    return pd.DataFrame(
        {
            "basket": np.repeat(np.arange(n_baskets, dtype=np.int64), sizes),
            "item": np.array([f"item{i:04d}" for i in items]),
        }
    )
