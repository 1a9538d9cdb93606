"""Seeded input generators and ground truth for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes parquet files that the program reads
through its public loaders; the ground truth each workload is checked
against is computed here, with numpy/pandas, from the same arrays.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY0_US = 1_704_205_800_000_000  # 2024-01-02 14:30:00 UTC (09:30 New York)
SESSION_US = int(6.5 * 3600 * 1e6)


def _write(table: pd.DataFrame, path: str, ts_cols: tuple[str, ...] = ()) -> None:
    arrays, names = [], []
    for c in table.columns:
        if c in ts_cols:
            arrays.append(pa.array(table[c].to_numpy(np.int64), pa.int64()).cast(pa.timestamp("us", tz="UTC")))
        else:
            arrays.append(pa.array(table[c].tolist() if table[c].dtype == object else table[c].to_numpy()))
        names.append(c)
    pq.write_table(pa.Table.from_arrays(arrays, names=names), path)


def _zipf_weights(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def _stamps(rng: np.random.Generator, n: int) -> np.ndarray:
    """n strictly increasing microsecond stamps inside one trading session,
    so no two rows of a table tie on time and as-of matches are unique."""
    return DAY0_US + np.sort(rng.integers(0, SESSION_US - n, n)) + np.arange(n)


# --------------------------------------------------------------- ticks
@dataclass
class TickTruth:
    """pandas oracle over a seeded subset of symbols."""

    syms: list[str]
    enriched: pd.DataFrame  # sym, ts, size, price, bid, ask, cum_size, roll_px, ema_size
    reduce: pd.DataFrame  # sym -> Sum, Mean, Median, open, high, low, close
    accum: pd.DataFrame  # (sym, hour) -> sum(size)


ROLL_WINDOW = 20
EMA_RATE = 0.05


def ema_decay_reference(x: np.ndarray, t: np.ndarray, rate: float) -> np.ndarray:
    """out_i = x_i + out_{i-1} * exp(-rate * (t_i - t_{i-1})), a plain loop."""
    out = np.empty(len(x))
    last = 0.0
    for i in range(len(x)):
        last = x[i] + (last * np.exp(-rate * (t[i] - t[i - 1])) if i else 0.0)
        out[i] = last
    return out


def tick_inputs(rng: np.random.Generator, out_dir: str, n_trades: int, n_quotes: int,
                n_syms: int = 500, n_checked: int = 6) -> TickTruth:
    """Trades and quotes over Zipf-skewed symbols, written as
    ``<out_dir>/trades.parquet`` and ``<out_dir>/quotes.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    syms = np.array([f"S{i:04d}" for i in range(n_syms)])
    weights = _zipf_weights(n_syms, 1.1)
    base = rng.uniform(10.0, 500.0, n_syms)

    q_sym = rng.choice(n_syms, n_quotes, p=weights)
    q_mid = base[q_sym] * (1.0 + 0.01 * rng.standard_normal(n_quotes))
    q_half = q_mid * rng.uniform(1e-4, 1e-3, n_quotes)
    quotes = pd.DataFrame({
        "sym": syms[q_sym],
        "ts": _stamps(rng, n_quotes),
        "bid": np.round(q_mid - q_half, 4),
        "ask": np.round(q_mid + q_half, 4),
    })
    t_sym = rng.choice(n_syms, n_trades, p=weights)
    trades = pd.DataFrame({
        "sym": syms[t_sym],
        "ts": _stamps(rng, n_trades),
        "price": np.round(base[t_sym] * (1.0 + 0.01 * rng.standard_normal(n_trades)), 4),
        "size": rng.integers(1, 1000, n_trades).astype(np.int64),
    })
    _write(quotes, os.path.join(out_dir, "quotes.parquet"), ts_cols=("ts",))
    _write(trades, os.path.join(out_dir, "trades.parquet"), ts_cols=("ts",))

    # oracle subset: the heaviest symbol plus a seeded draw of the rest
    checked = [syms[0]] + list(rng.choice(syms[1:], n_checked - 1, replace=False))
    t = trades[trades["sym"].isin(checked)].sort_values("ts")
    q = quotes[quotes["sym"].isin(checked)].sort_values("ts")
    m = pd.merge_asof(t, q, on="ts", by="sym", direction="backward", allow_exact_matches=True)
    m = m.sort_values(["sym", "ts"]).reset_index(drop=True)
    g = m.groupby("sym", sort=False)
    m["cum_size"] = g["size"].cumsum()
    m["roll_px"] = g["price"].transform(lambda s: s.rolling(ROLL_WINDOW).mean())
    m["ema_size"] = np.nan
    for _, idx in g.groups.items():
        rows = m.loc[idx]
        m.loc[idx, "ema_size"] = ema_decay_reference(
            rows["size"].to_numpy(np.float64), rows["ts"].to_numpy(np.float64) / 1e6, EMA_RATE)
    red = g.agg(Sum=("size", "sum"), Mean=("price", "mean"), Median=("price", "median"),
                open=("price", "first"), high=("price", "max"), low=("price", "min"),
                close=("price", "last")).reset_index()
    m["hour"] = (m["ts"] // 3_600_000_000) % 24
    acc = m.groupby(["sym", "hour"])["size"].sum().reset_index()
    return TickTruth(checked, m, red, acc)


# -------------------------------------------------------------- corpus
@dataclass
class CorpusTruth:
    exact_kept: set[int]  # ids dedup_exact must keep
    near_pairs: set[tuple[int, int]]  # planted (original, near copy)
    topk: dict[int, list[int]]  # query id -> exact cosine top-k ids
    topk_scores: dict[int, np.ndarray]
    n_docs: int


def normalize(text: str) -> str:
    """Python twin of the program's normalize_text (lower, trim spaces,
    collapse whitespace) for the texts generated here."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def corpus_inputs(rng: np.random.Generator, out_dir: str, n_base: int, n_vectors: int,
                  n_queries: int, k: int, dim: int = 64, exact_frac: float = 0.05,
                  near_frac: float = 0.5, edit_frac: float = 0.05) -> CorpusTruth:
    """Documents over a Zipf vocabulary with planted exact and near copies
    (``documents.parquet``) plus embeddings and queries
    (``embeddings.parquet``, ``queries.parquet``). There are enough near
    copies (500 per 1000 documents) that one missed pair moves recall by
    0.2%, so recall differs little from seed to seed."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array([f"w{i:x}" for i in range(20_000)])
    p = _zipf_weights(len(vocab), 1.05)
    docs: list[str] = []
    for _ in range(n_base):
        docs.append(" ".join(vocab[rng.choice(len(vocab), int(rng.integers(30, 80)), p=p)]))
    n_exact = int(n_base * exact_frac)
    n_near = int(n_base * near_frac)
    # copies get ids above every original, so each cluster keeps its original
    for src in rng.choice(n_base, n_exact, replace=False):
        docs.append("  " + docs[src].upper().replace(" ", "  ", 3))
    near_pairs = set()
    for src in rng.choice(n_base, n_near, replace=False):
        toks = docs[src].split(" ")
        edits = rng.choice(len(toks), max(1, int(round(len(toks) * edit_frac))), replace=False)
        for e in edits:
            toks[e] = vocab[rng.integers(len(vocab))]
        near_pairs.add((int(src), len(docs)))
        docs.append(" ".join(toks))
    first_id: dict[str, int] = {}
    for i, d in enumerate(docs):
        first_id.setdefault(normalize(d), i)
    # a copy that came out identical to its source is an exact duplicate
    near_pairs = {(a, b) for a, b in near_pairs if first_id[normalize(docs[b])] == b}
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
                             "text": pa.array(docs)}),
                   os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((n_vectors, dim))
    centers = rng.choice(n_vectors, n_queries, replace=False)
    qv = vecs[centers] + 0.5 * rng.standard_normal((n_queries, dim))
    lst = pa.list_(pa.float64())
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
                             "embedding": pa.array(list(vecs), type=lst)}),
                   os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(pa.table({"query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
                             "query_vec": pa.array(list(qv), type=lst)}),
                   os.path.join(out_dir, "queries.parquet"))
    sims = (qv / np.linalg.norm(qv, axis=1, keepdims=True)) @ (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    topk = {q: order[q].tolist() for q in range(n_queries)}
    scores = {q: sims[q, order[q]] for q in range(n_queries)}
    return CorpusTruth(set(first_id.values()), near_pairs, topk, scores, len(docs))


# --------------------------------------------------------- interactive
@dataclass
class SessionTruth:
    events: pd.DataFrame
    dim: pd.DataFrame


def session_inputs(rng: np.random.Generator, out_dir: str, n_rows: int, n_keys: int = 40,
                   n_groups: int = 1000) -> SessionTruth:
    """One ``events`` fact table and a small ``dim`` lookup table."""
    os.makedirs(out_dir, exist_ok=True)
    keys = np.array([f"K{i:02d}" for i in range(n_keys)])
    events = pd.DataFrame({
        "k": keys[rng.choice(n_keys, n_rows, p=_zipf_weights(n_keys, 0.8))],
        "g": rng.integers(0, n_groups, n_rows).astype(np.int64),
        "v": np.round(rng.gamma(2.0, 50.0, n_rows), 3),
        "q": rng.integers(1, 100, n_rows).astype(np.int64),
        "ts": _stamps(rng, n_rows),
    })
    dim = pd.DataFrame({"k": keys, "region": [f"R{i % 8}" for i in range(n_keys)],
                        "weight": np.round(rng.uniform(0.5, 2.0, n_keys), 3)})
    _write(events, os.path.join(out_dir, "events.parquet"), ts_cols=("ts",))
    _write(dim, os.path.join(out_dir, "dim.parquet"))
    return SessionTruth(events, dim)
