"""Seeded input generators. Every function is a pure function of its
``numpy.random.Generator`` and size arguments, so one ``--seed`` gives
byte-identical inputs on every host. Inputs are written as parquet with
pyarrow, outside Spark, so generation never shares the engine's clock.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_TS = pa.timestamp("us", tz="UTC")

#: the documents fixture's vocabulary shape: short technical words
_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector the join customer lake shard index page cache disk node "
    "plan task stage spill heap"
).split()


def tickers(n: int) -> list[str]:
    return [f"T{i:04d}" for i in range(n)]


def trading_days(start: str, end: str) -> pd.DatetimeIndex:
    return pd.bdate_range(start, end)


def bars_table(
    rng: np.random.Generator, names: list[str], days: pd.DatetimeIndex
) -> pa.Table:
    """Raw OHLCV bars (``schemas.STOCK_PRICES_RAW``): one geometric
    random walk per ticker, every ticker on every trading day."""
    nt, nd = len(names), len(days)
    start = rng.uniform(20.0, 400.0, size=(nt, 1))
    steps = rng.normal(0.0003, 0.02, size=(nt, nd))
    close = np.round(start * np.exp(np.cumsum(steps, axis=1)), 4).ravel()
    spread = rng.uniform(0.001, 0.03, size=nt * nd)
    opening = np.round(close * (1 + rng.normal(0, 0.005, nt * nd)), 4)
    high = np.round(np.maximum(close, opening) * (1 + spread), 4)
    low = np.round(np.minimum(close, opening) * (1 - spread), 4)
    dates = np.tile(days.values.astype("datetime64[us]"), nt)
    return pa.table(
        {
            "date": pa.array(dates).cast(_TS),
            "open": opening,
            "high": high,
            "low": low,
            "close": close,
            "volume": rng.integers(10_000, 5_000_000, nt * nd),
            "ticker": np.repeat(np.array(names), nd),
            "ingest_ts": pa.array(dates + np.timedelta64(21, "h")).cast(_TS),
        }
    )


def next_day_bars(
    rng: np.random.Generator, last: pa.Table, day: pd.Timestamp
) -> pa.Table:
    """One new bar per ticker on ``day``, continuing each ticker's walk
    from its ``last`` close (``last`` holds one row per ticker)."""
    n = last.num_rows
    prev = last.column("close").to_numpy()
    close = np.round(prev * np.exp(rng.normal(0.0003, 0.02, n)), 4)
    when = np.repeat(np.datetime64(day.to_datetime64(), "us"), n)
    return pa.table(
        {
            "date": pa.array(when).cast(_TS),
            "open": prev,
            "high": np.round(np.maximum(prev, close) * 1.01, 4),
            "low": np.round(np.minimum(prev, close) * 0.99, 4),
            "close": close,
            "volume": rng.integers(10_000, 5_000_000, n),
            "ticker": last.column("ticker"),
            "ingest_ts": pa.array(when + np.timedelta64(21, "h")).cast(_TS),
        }
    )


def restate(
    rng: np.random.Generator, bars: pa.Table, share: float
) -> pa.Table:
    """A seeded ``share`` of past bars re-delivered with a corrected
    close and a later ingest stamp (the late-correction case the
    pipeline's key-replace merge exists for)."""
    n = max(1, int(round(bars.num_rows * share)))
    idx = np.sort(rng.choice(bars.num_rows, size=n, replace=False))
    picked = bars.take(pa.array(idx))
    close = picked.column("close").to_numpy()
    fixed = np.round(close * (1 + rng.normal(0, 0.01, n)), 4)
    stamp = picked.column("ingest_ts").cast(pa.int64()).to_numpy() + 86_400_000_000
    return (
        picked.set_column(4, "close", pa.array(fixed))
        .set_column(7, "ingest_ts", pa.array(stamp).cast(_TS))
    )


def apply_restatements(bars: pa.Table, fixes: pa.Table) -> pa.Table:
    """The bar set an increment should converge to: ``bars`` with each
    restated (ticker, date) key replaced by its correction."""
    base = bars.to_pandas()
    upd = fixes.to_pandas()
    merged = base.merge(
        upd[["ticker", "date"]], on=["ticker", "date"], how="left", indicator=True
    )
    kept = base[(merged["_merge"] == "left_only").to_numpy()]
    out = pd.concat([kept, upd], ignore_index=True)
    return pa.Table.from_pandas(out, schema=bars.schema, preserve_index=False)


def companies_table(names: list[str]) -> pa.Table:
    """Ticker dimension shaped like ``schemas.SP500_COMPANIES``' key and
    display columns."""
    sectors = ["Tech", "Health", "Energy", "Finance", "Retail", "Industrial"]
    return pa.table(
        {
            "ticker_symbol": names,
            "security_name": [f"{t} Holdings" for t in names],
            "gics_sector": [sectors[i % len(sectors)] for i in range(len(names))],
        }
    )


def zipf_indices(
    rng: np.random.Generator, n_items: int, size: int, s: float = 1.1
) -> np.ndarray:
    """``size`` draws from a Zipf(s) popularity over ``n_items`` ranks
    (rank 0 most popular), truncated to the item count."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def documents_table(
    rng: np.random.Generator,
    n_docs: int,
    dup_share: float,
    leak_share: float,
    n_sources: int = 20,
) -> pa.Table:
    """A corpus shaped like the ``documents`` fixture (``doc_id``, text
    of 8..90 vocabulary words, lang, source, n_chars) with planted
    redundancy: ``dup_share`` of docs copy another doc whole or carry a
    12-word run of one, and ``leak_share`` of training docs
    (``doc_id % 10 < 8``) carry a 12-word run of an eval doc
    (``doc_id % 10 >= 8``)."""
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))])
        for _ in range(n_docs)
    ]
    ids = np.arange(n_docs)
    evals = ids[ids % 10 >= 8]
    train = ids[ids % 10 < 8]
    # exact counts, so every seed plants the same amount of redundancy
    n_dup = int(round(dup_share * n_docs))
    n_leak = int(round(leak_share * len(train)))
    dups = rng.choice(ids, size=n_dup, replace=False)
    leaks = rng.choice(np.setdiff1d(train, dups), size=n_leak, replace=False)
    for j, i in enumerate(dups):
        src = texts[rng.integers(0, n_docs)]
        if j % 2 == 0:
            texts[i] = src
        else:
            texts[i] = f"{texts[i]} {' '.join(src.split()[:12])}"
    for i in leaks:
        words = texts[rng.choice(evals)].split()
        at = rng.integers(0, max(1, len(words) - 12))
        texts[i] = f"{' '.join(words[at:at + 12])} {texts[i]}"
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table(
        {
            "doc_id": ids.astype(np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": [f"src{s}" for s in rng.integers(0, n_sources, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events_table(
    rng: np.random.Generator, n_events: int, n_users: int, n_days: int
) -> pa.Table:
    """Tick events shaped like the ``events`` fixture, sorted by time,
    over ``n_days`` days from 2024-01-01 (naive microsecond stamps)."""
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, n_days * 86_400_000_000, n_events))
    kinds = np.array(["view", "click", "cart", "purchase"])
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(base + offs.astype("timedelta64[us]")).cast(
                pa.timestamp("us")
            ),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": kinds[rng.integers(0, len(kinds), n_events)],
            "value": np.round(rng.uniform(1.0, 200.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
