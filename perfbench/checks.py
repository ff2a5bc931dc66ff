"""Output checks computed apart from the engine: DuckDB and pandas
recomputations and conservation laws. Each check returns a list of problems;
an empty list is a pass."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

DAY_US = 86_400_000_000
MIN_US = 60_000_000
# relative tolerance of floating-point columns that are sums in another order
RTOL = 1e-9
# the row frames of with_rolling_metrics: ma_<n> over the last n ticks
ROLLING_FRAMES = (5, 15, 30)


def _us(col: pd.Series) -> np.ndarray:
    """Timestamps (naive or tz-aware, any unit) as int64 epoch microseconds."""
    s = pd.to_datetime(col)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def _days(col: pd.Series) -> np.ndarray:
    return (pd.to_datetime(col).astype("datetime64[s]").astype("int64")
            // 86_400).to_numpy()


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
            exact: list[str], approx: list[str], what: str) -> list[str]:
    """Row-for-row equality after sorting on ``keys`` (which must be unique
    in ``want``): ``exact`` columns equal, ``approx`` columns within
    ``RTOL`` (NULLs must match)."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    w = want.sort_values(keys, kind="stable").reset_index(drop=True)
    problems = []
    for c in keys + exact:
        bad = np.flatnonzero(g[c].to_numpy() != w[c].to_numpy())
        if bad.size:
            i = bad[0]
            problems.append(f"{what}.{c}: {bad.size} rows differ, first at "
                            f"{dict(w.loc[i, keys])}: {g.loc[i, c]!r} vs "
                            f"{w.loc[i, c]!r}")
    for c in approx:
        a = g[c].to_numpy(dtype="float64")
        b = w[c].to_numpy(dtype="float64")
        ok = np.isclose(a, b, rtol=RTOL, atol=1e-12) | (np.isnan(a) & np.isnan(b))
        bad = np.flatnonzero(~ok)
        if bad.size:
            i = bad[0]
            problems.append(f"{what}.{c}: {bad.size} rows differ, first at "
                            f"{dict(w.loc[i, keys])}: {a[i]!r} vs {b[i]!r}")
    return problems


# -- batch analytics ---------------------------------------------------------

def ohlcv_reference(con: duckdb.DuckDBPyConnection, glob: str) -> pd.DataFrame:
    """Daily OHLCV per (symbol, UTC day); ``(symbol, timestamp)`` is unique
    so open/close are the first/last tick of the day."""
    return con.execute(f"""
        SELECT symbol, epoch_us(timestamp) // {DAY_US} AS day,
               arg_min(price, epoch_us(timestamp)) AS daily_open,
               max(price) AS daily_high, min(price) AS daily_low,
               arg_max(price, epoch_us(timestamp)) AS daily_close,
               sum(volume)::BIGINT AS daily_volume,
               count(*)::BIGINT AS tick_count
        FROM read_parquet('{glob}') GROUP BY ALL""").df().assign(
        daily_change=lambda d: d.daily_close - d.daily_open)


def check_ohlcv(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.assign(day=_days(got["date"]))
    return compare(got, want, ["symbol", "day"],
                   ["daily_open", "daily_high", "daily_low", "daily_close",
                    "daily_volume", "tick_count", "daily_change"], [],
                   "daily_ohlcv")


def _sliding(glob: str, size_min: int, slide_min: int, sfx: str) -> str:
    size, slide = size_min * MIN_US, slide_min * MIN_US
    return f"""
        SELECT symbol, (epoch_us(timestamp) // {slide}) * {slide} - k * {slide}
                   AS window_start,
               sum(round(price * 100)::BIGINT)::DOUBLE / 100.0 / count(*)
                   AS ma_{sfx},
               stddev_samp(price) AS volatility_{sfx},
               sum(volume)::BIGINT AS volume_sum_{sfx}
        FROM read_parquet('{glob}'), range({size // slide}) AS r(k)
        GROUP BY ALL"""


def windowed_reference(con: duckdb.DuckDBPyConnection, glob: str) -> pd.DataFrame:
    """15-minute/5-minute sliding metrics joined with 1-hour/10-minute ones
    on (symbol, window start)."""
    return con.execute(f"""
        SELECT * FROM ({_sliding(glob, 15, 5, '15m')})
        JOIN ({_sliding(glob, 60, 10, '1h')}) USING (symbol, window_start)
        """).df()


def check_windowed(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.assign(window_start=_us(got["window_start"]))
    want = want.assign(window_start=want["window_start"].astype("int64"))
    bounds = []
    for c, width in (("window_15m_end", 15), ("window_1h_end", 60)):
        off = _us(got[c]) - got["window_start"].to_numpy()
        if (off != width * MIN_US).any():
            bounds.append(f"windowed.{c}: window width is not {width} minutes")
    return bounds + compare(
        got, want, ["symbol", "window_start"],
        ["volume_sum_15m", "volume_sum_1h"],
        ["ma_15m", "ma_1h", "volatility_15m", "volatility_1h"], "windowed")


def check_conservation(per_type: pd.DataFrame, n_rows: int,
                       volume: int) -> list[str]:
    """``per_type``: window_type, ticks, volume summed over the tumbling
    windows of each type. Every tick lands in exactly one window per type."""
    problems = []
    if sorted(per_type["window_type"]) != ["15min", "1hour", "5min"]:
        problems.append(f"multi_window: window types {sorted(per_type['window_type'])}")
    for r in per_type.itertuples():
        if int(r.ticks) != n_rows:
            problems.append(f"multi_window[{r.window_type}]: tick_count sums "
                            f"to {r.ticks}, input has {n_rows} rows")
        if int(r.volume) != volume:
            problems.append(f"multi_window[{r.window_type}]: total_volume sums "
                            f"to {r.volume}, input volume is {volume}")
    return problems


def rolling_reference(ticks: pd.DataFrame) -> pd.DataFrame:
    t = ticks.assign(ts=_us(ticks["timestamp"])).sort_values(["symbol", "ts"])
    g = t.groupby("symbol", sort=False)["price"]
    for n in ROLLING_FRAMES:
        t[f"ma_{n}"] = g.transform(lambda s: s.rolling(n, min_periods=1).mean())
    return t


def check_rolling(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.assign(ts=_us(got["timestamp"]))
    return compare(got, want, ["symbol", "ts"], ["price", "volume"],
                   [f"ma_{n}" for n in ROLLING_FRAMES], "rolling")


# -- stream ingest -----------------------------------------------------------

def check_same_rows(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    """Multiset equality of tick rows (``(symbol, timestamp)`` is unique in
    ``want``, so a sorted row-by-row compare decides it)."""
    cols = ["symbol", "timestamp", "price", "volume"]
    got = got[cols].assign(timestamp=_us(got["timestamp"]))
    want = want[cols].assign(timestamp=_us(want["timestamp"]))
    return compare(got, want, ["symbol", "timestamp"], ["price", "volume"],
                   [], what)


def check_stream_counts(n_versions: int, input_rows: list[int],
                        generated: int) -> list[str]:
    problems = []
    non_empty = sum(1 for n in input_rows if n > 0)
    if n_versions != non_empty:
        problems.append(f"stream: {n_versions} table versions for "
                        f"{non_empty} non-empty micro-batches")
    if sum(input_rows) != generated:
        problems.append(f"stream: progress counts {sum(input_rows)} input "
                        f"rows, the generator wrote {generated}")
    return problems
