"""Seeded input generators. Everything the engine reads is written here as
parquet; the engine never sees the generator's parameters.

Ticks carry ``symbol, timestamp, price, volume`` with ``(symbol, timestamp)``
unique, so row frames ordered by timestamp are fully defined. Symbols follow
a Zipf mix and a share of rows sits out of timestamp order in the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

TICK_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("price", pa.float64()),
        ("volume", pa.int64()),
    ]
)


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def zipf_counts(rng: np.random.Generator, n_ticks: int, n_symbols: int,
                s: float) -> np.ndarray:
    """Per-symbol tick counts under a Zipf(s) mix; each symbol gets at least
    ``min(40, n_ticks // (4 * n_symbols))`` ticks."""
    w = 1.0 / np.arange(1, n_symbols + 1) ** s
    floor = min(40, n_ticks // (4 * n_symbols))
    counts = rng.multinomial(n_ticks - floor * n_symbols, w / w.sum()) + floor
    return counts


def _unique_sorted(rng: np.random.Generator, n: int, hi: int) -> np.ndarray:
    """``n`` distinct sorted integers in ``[0, hi)``."""
    out = np.unique(rng.integers(0, hi, size=n + n // 8 + 16))
    while out.size < n:
        out = np.unique(np.concatenate([out, rng.integers(0, hi, size=n)]))
    return np.sort(rng.choice(out, size=n, replace=False))


def ticks(rng: np.random.Generator, n_ticks: int, n_symbols: int, days: int,
          zipf_s: float, ooo_share: float) -> pa.Table:
    """A tick history over ``days`` days in timestamp order except for an
    ``ooo_share`` of rows moved to random positions. Prices are 2-dp
    random walks kept above 1.00; timestamps have millisecond resolution."""
    counts = zipf_counts(rng, n_ticks, n_symbols, zipf_s)
    span_ms = days * DAY_US // 1000
    syms, ts, px, vol = [], [], [], []
    for i, c in enumerate(counts):
        t = _unique_sorted(rng, int(c), span_ms) * 1000 + EPOCH_US
        cents = 10_000 + rng.integers(0, 40_000) + np.cumsum(
            rng.integers(-25, 26, size=c))
        cents = np.maximum(cents, 100)
        syms.append(np.full(c, i, dtype=np.int32))
        ts.append(t)
        px.append(cents / 100.0)
        vol.append(rng.integers(1, 5_000, size=c))
    sym = np.concatenate(syms)
    t = np.concatenate(ts)
    order = np.argsort(t, kind="stable")
    n_ooo = int(len(order) * ooo_share)
    if n_ooo:
        pos = rng.choice(len(order), size=n_ooo, replace=False)
        order[pos] = order[rng.permutation(pos)]
    names = np.array(symbols(n_symbols), dtype=object)
    return pa.table(
        {
            "symbol": names[sym[order]],
            "timestamp": pa.array(t[order], type=pa.timestamp("us", tz="UTC")),
            "price": np.concatenate(px)[order],
            "volume": np.concatenate(vol)[order],
        },
        schema=TICK_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str,
                  mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def tick_backlog(rng: np.random.Generator, directory: str, n_files: int,
                 ticks_per_file: int, n_symbols: int, zipf_s: float,
                 ooo_share: float) -> pa.Table:
    """A backlog of ``n_files`` small tick files, one trading slice each,
    named and timestamped in arrival order so the file source drains them
    one per trigger in a fixed order. An ``ooo_share`` of each file's rows
    arrive late: they belong to the previous file's time slice. Returns the
    whole backlog as one table."""
    hist = ticks(rng, n_files * ticks_per_file, n_symbols,
                 days=max(1, n_files // 8), zipf_s=zipf_s, ooo_share=0.0)
    cut = np.arange(hist.num_rows)
    late = rng.random(hist.num_rows) < ooo_share
    slot = cut // ticks_per_file + late  # a late tick ships one file later
    slot = np.minimum(slot, n_files - 1)
    base_mtime = 1_700_000_000
    for f in range(n_files):
        part = hist.filter(pa.array(slot == f))
        write_parquet(part, os.path.join(directory, f"ticks-{f:05d}.parquet"),
                      mtime=base_mtime + f)
    return hist
