"""Deterministic, vectorized input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  Generation runs before any timed region and before set-up.

- :func:`sales_csvs` writes reference-schema sales CSVs (one history load
  and a sequence of small incremental batches) with the reference data's
  quirks: a UTF-8 BOM, quoted fields with embedded commas and empty
  ``DealerName`` values that must become NULL.
- :func:`corpus_tables` writes the parquet tables the query registry
  reads: the star tables of the committed test corpus as they are, and
  its documents and embeddings fanned out into near-duplicates at stated
  rates.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- sales CSVs -------------------------------------------------------------

SALES_COLUMNS = [
    "Branch_ID", "Dealer_ID", "Model_ID", "Revenue", "Units_Sold", "Date_ID",
    "Day", "Month", "Year", "BranchName", "DealerName", "Product_Name",
]
N_BRANCHES, N_DEALERS, N_MODELS, N_PRODUCTS = 400, 150, 250, 36
CATEGORIES = np.array(["BMW", "Audi", "Tesla", "Ford", "Kia", "Fisker", "Volvo", "Honda"])
CITIES = np.array(["Pune", "Austin", "Lyon", "Oslo", "Kyoto", "Quito", "Perth", "Cork"])
HISTORY_DAYS = 365      # Date_ID 0..364 in the history load
BATCH_DAYS = 7          # each batch adds a week of new dates ...
OVERLAP_DAYS = 14       # ... and revisits the two weeks before it
RESEND_SHARE = 0.3      # rows that re-send a grain of the previous load
RENAME_SHARE = 0.02     # branches and dealers renamed per batch (SCD-1)
EMPTY_DEALER_SHARE = 0.02


def _fmt(pattern: str, ids: np.ndarray) -> np.ndarray:
    return np.char.mod(pattern, ids)


class _SalesState:
    """Current attribute values of the bounded dimensions."""

    def __init__(self, rng: np.random.Generator):
        b = np.arange(N_BRANCHES)
        d = np.arange(N_DEALERS)
        m = np.arange(N_MODELS)
        self.branch_name = np.char.add(_fmt("Branch %d, ", b), CITIES[b % len(CITIES)]).astype(object)
        self.dealer_name = np.char.add(_fmt("Dealer %d, ", d), CITIES[rng.integers(0, len(CITIES), N_DEALERS)]).astype(object)
        self.model_id = np.char.add(
            np.char.add(CATEGORIES[m % len(CATEGORIES)], "-M"), m.astype(str)
        ).astype(object)
        self.product = _fmt("Product %d", m % N_PRODUCTS).astype(object)

    def rename(self, rng: np.random.Generator, tag: int) -> None:
        for arr, n, label in ((self.branch_name, N_BRANCHES, "Branch"), (self.dealer_name, N_DEALERS, "Dealer")):
            ids = rng.choice(n, max(1, int(n * RENAME_SHARE)), replace=False)
            arr[ids] = np.char.add(_fmt(f"{label} %d, renamed ", ids), str(tag)).astype(object)


def _sales_frame(rng, state, n, day_lo, day_hi, prev):
    """``n`` rows over days [day_lo, day_hi); a share re-sends grains of ``prev``."""
    branch = rng.integers(0, N_BRANCHES, n)
    dealer = rng.integers(0, N_DEALERS, n)
    model = rng.integers(0, N_MODELS, n)
    day = rng.integers(day_lo, day_hi, n)
    if prev is not None:
        # MERGE must update existing fact-grain rows, not only insert
        k = int(n * RESEND_SHARE)
        pick = rng.integers(0, len(prev[0]), k)
        branch[:k], dealer[:k], model[:k], day[:k] = (a[pick] for a in prev)
    dates = np.datetime64("2017-01-01") + day.astype("timedelta64[D]")
    ymd = pd.DatetimeIndex(dates)
    units = rng.integers(1, 4, n)
    dealer_name = state.dealer_name[dealer].copy()
    # empty DealerName for a seeded subset of dealers; all rows of a dealer
    # agree inside one load, so every natural key maps to one value
    empty = rng.choice(N_DEALERS, max(1, int(N_DEALERS * EMPTY_DEALER_SHARE)), replace=False)
    dealer_name[np.isin(dealer, empty)] = None
    frame = pd.DataFrame({
        "Branch_ID": _fmt("BR%05d", branch),
        "Dealer_ID": _fmt("DLR%04d", dealer),
        "Model_ID": state.model_id[model],
        "Revenue": rng.integers(100_000, 30_000_000, n) * units,
        "Units_Sold": units,
        "Date_ID": _fmt("DT%05d", day),
        "Day": ymd.day.to_numpy(np.int64),
        "Month": ymd.month.to_numpy(np.int64),
        "Year": ymd.year.to_numpy(np.int64),
        "BranchName": state.branch_name[branch],
        "DealerName": dealer_name,
        "Product_Name": state.product[model],
    })
    return frame, (branch, dealer, model, day)


def sales_csvs(seed: int, out_dir: str, history_rows: int, batch_rows: int):
    """Write ``history.csv``, then ``batch_000.csv``, ``batch_001.csv`` ..
    one at a time, yielding each path; the n-th file does not depend on
    how many are drawn after it."""
    rng = np.random.default_rng([seed, 1])
    state = _SalesState(rng)
    os.makedirs(out_dir, exist_ok=True)
    frame, prev = _sales_frame(rng, state, history_rows, 0, HISTORY_DAYS, None)
    for i in itertools.count():
        if i:
            state.rename(rng, i)
            hi = HISTORY_DAYS + i * BATCH_DAYS
            frame, prev = _sales_frame(rng, state, batch_rows, hi - BATCH_DAYS - OVERLAP_DAYS, hi, prev)
        path = os.path.join(out_dir, "history.csv" if i == 0 else f"batch_{i - 1:03d}.csv")
        frame.to_csv(path, index=False, encoding="utf-8-sig")
        yield path


# -- query corpus --------------------------------------------------------------

# ``corpus/`` holds the repository's sf0.01 test corpus (seed 42: lineitem
# 60k rows, documents and embeddings 500 rows each), which the registry's
# oracle checks are written against
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
FANOUT = 2              # copies per document / vector, the original included
EXACT_COPY_SHARE = 0.3  # of the added copies: byte-identical documents ...
EDIT_SHARE = 1 / 12     # ... the rest swap this share of their words
VEC_NOISE = 0.01        # per-coordinate noise of a near-duplicate vector


def _documents(rng, docs: pd.DataFrame) -> pd.DataFrame:
    """``FANOUT`` times the documents: originals, exact and near-duplicates."""
    n = len(docs)
    src = np.concatenate([np.arange(n), rng.integers(0, n, (FANOUT - 1) * n)])
    tokens = [t.split() for t in docs["text"]]
    vocab = np.array(sorted({w for ts in tokens for w in ts}))
    lengths = np.array([len(tokens[i]) for i in src])
    flat = np.array([w for i in src for w in tokens[i]], dtype=object)
    edited = np.repeat(np.arange(len(src)) >= n, lengths) & np.repeat(
        rng.random(len(src)) >= EXACT_COPY_SHARE, lengths)
    swap = edited & (rng.random(len(flat)) < EDIT_SHARE)
    flat[swap] = vocab[rng.integers(0, len(vocab), int(swap.sum()))]
    texts = [" ".join(ws) for ws in np.split(flat, np.cumsum(lengths)[:-1])]
    order = rng.permutation(len(src))
    out = docs.iloc[src[order]].reset_index(drop=True)
    out["doc_id"] = np.arange(len(src), dtype=np.int64)
    out["text"] = [texts[i] for i in order]
    out["n_chars"] = out["text"].str.len().astype(np.int64)
    return out


def _embeddings(rng, emb: pd.DataFrame) -> pa.Table:
    """``FANOUT`` times the unit vectors: originals and noisy re-normed copies."""
    n = len(emb)
    src = np.concatenate([np.arange(n), rng.integers(0, n, (FANOUT - 1) * n)])
    vecs = np.stack(emb["embedding"].to_numpy())[src].astype(np.float64)
    vecs[n:] += rng.normal(0, VEC_NOISE, vecs[n:].shape)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    order = rng.permutation(len(src))
    dim = vecs.shape[1]
    return pa.table({
        "vec_id": pa.array(np.arange(len(src)), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs[order].astype(np.float32).ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(emb["label"].to_numpy()[src[order]], pa.int32()),
    })


def corpus_tables(seed: int, out_dir: str, tables) -> list[str]:
    """Write the query corpus into ``out_dir``; returns its files.

    The star tables are copied from ``corpus/`` unchanged; ``documents``
    and ``embeddings`` are fanned out ``FANOUT`` times with seeded
    near-duplicate edits, so the dedup and similarity queries find both
    exact and near copies."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for t in tables:
        src, dst = os.path.join(CORPUS, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        if t == "documents":
            frame = _documents(rng, pq.read_table(src).to_pandas())
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), dst)
        elif t == "embeddings":
            pq.write_table(_embeddings(rng, pq.read_table(src).to_pandas()), dst)
        else:
            shutil.copyfile(src, dst)
        paths.append(dst)
    return paths


def digest(paths: list[str]) -> str:
    """sha256 over the generated files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
