"""Each output check passes on a correct output and fails when one value of
that output is changed. Run with ``python3 -m pytest perfbench -q``; no
Spark session is needed."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def history(tmp_path_factory):
    rng = np.random.default_rng(7)
    table = gen.ticks(rng, 4_000, 6, days=2, zipf_s=1.1, ooo_share=0.05)
    d = tmp_path_factory.mktemp("hist")
    gen.write_parquet(table, os.path.join(d, "part-000.parquet"))
    return table, os.path.join(d, "*.parquet")


def _perturb(df: pd.DataFrame, col: str, row: int = 3) -> pd.DataFrame:
    out = df.copy()
    v = out.loc[out.index[row], col]
    out.loc[out.index[row], col] = v + (1 if isinstance(v, (int, np.integer)) else 0.01)
    return out


def test_generator_is_seeded_and_keys_are_unique():
    a = gen.ticks(np.random.default_rng(1), 3_000, 8, 1, 1.1, 0.05)
    b = gen.ticks(np.random.default_rng(1), 3_000, 8, 1, 1.1, 0.05)
    assert a.equals(b)
    df = a.to_pandas()
    assert not df.duplicated(["symbol", "timestamp"]).any()
    assert not df["timestamp"].is_monotonic_increasing  # some ticks out of order


def test_ohlcv_check(history):
    _, glob = history
    with duckdb.connect() as con:
        want = checks.ohlcv_reference(con, glob)
    got = want.drop(columns="day").assign(
        date=[dt.date(1970, 1, 1) + dt.timedelta(days=int(d)) for d in want["day"]])
    assert checks.check_ohlcv(got, want) == []
    for col in ("daily_high", "daily_close", "daily_volume", "tick_count"):
        assert checks.check_ohlcv(_perturb(got, col), want)
    assert checks.check_ohlcv(got.iloc[1:], want)


def test_windowed_check(history):
    _, glob = history
    with duckdb.connect() as con:
        want = checks.windowed_reference(con, glob)
    start = pd.to_datetime(want["window_start"], unit="us")
    got = want.assign(window_start=start,
                      window_15m_end=start + pd.Timedelta(minutes=15),
                      window_1h_end=start + pd.Timedelta(minutes=60))
    assert checks.check_windowed(got, want) == []
    for col in ("ma_15m", "volatility_1h", "volume_sum_1h"):
        assert checks.check_windowed(_perturb(got, col), want)
    bad_end = got.copy()
    bad_end.loc[0, "window_1h_end"] += pd.Timedelta(minutes=1)
    assert checks.check_windowed(bad_end, want)


def test_conservation_check(history):
    table, _ = history
    n, vol = table.num_rows, int(table["volume"].to_numpy().sum())
    per_type = pd.DataFrame({"window_type": ["5min", "15min", "1hour"],
                             "ticks": [n] * 3, "volume": [vol] * 3})
    assert checks.check_conservation(per_type, n, vol) == []
    assert checks.check_conservation(_perturb(per_type, "ticks", 1), n, vol)
    assert checks.check_conservation(_perturb(per_type, "volume", 2), n, vol)


def test_rolling_check(history):
    table, _ = history
    want = checks.rolling_reference(table.to_pandas())
    got = want.drop(columns="ts").sample(frac=1.0, random_state=1)
    assert checks.check_rolling(got, want) == []
    for col in ("ma_5", "ma_15", "ma_30"):
        assert checks.check_rolling(_perturb(got, col), want)


def test_same_rows_check(history):
    table, _ = history
    want = table.to_pandas()
    got = want.sample(frac=1.0, random_state=2)
    assert checks.check_same_rows(got, want, "t") == []
    assert checks.check_same_rows(_perturb(got, "price"), want, "t")
    dup = got.copy()
    dup.iloc[0] = got.iloc[1]
    assert checks.check_same_rows(dup, want, "t")
    assert checks.check_same_rows(got.iloc[1:], want, "t")


def test_stream_count_check():
    assert checks.check_stream_counts(3, [10, 0, 5, 7], 22) == []
    assert checks.check_stream_counts(4, [10, 0, 5, 7], 22)
    assert checks.check_stream_counts(3, [10, 0, 5, 7], 23)
