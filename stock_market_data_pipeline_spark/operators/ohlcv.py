"""Daily OHLCV rollup (SURVEY A6) — the operator the reference *implies but
never implements*: its warehouse loader demands
symbol/date/daily_open/high/low/volume/close/change from
``processed/historical`` (``load_to_snowflake.py:100,157-167``, DDL `:71-84`)
but no job produces that path. This operator closes the gap.

``daily_change`` is underspecified in the reference; the engine implements
both documented choices:

* intraday (default): close − open of the same day.
* close-over-close: close − lag(close) over (symbol ORDER BY date) — the
  conventional daily change; first day per symbol → NULL.

Scale notes: a single hash aggregate keyed (symbol, date) with map-side
combine — shuffle volume is #symbols × #days regardless of tick count.
``min_by``/``max_by`` pick open/close deterministically by timestamp (the
reference's pandas path relies on file order). The close-over-close variant
adds one window over the *aggregated* (tiny) table, not the tick table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def daily_ohlcv(
    df: DataFrame,
    key: str = "symbol",
    ts: str = "timestamp",
    price: str = "price",
    volume: str = "volume",
    change_mode: str = "intraday",
) -> DataFrame:
    agg = (
        df.groupBy(F.col(key), F.to_date(F.col(ts)).alias("date"))
        .agg(
            # struct keys: same tie rule as ohlcv_partial/combine (lowest
            # open among tied-earliest, highest close among tied-latest) —
            # the batch path must not stay tie-arbitrary while the
            # incremental path is pinned (round-8 review)
            F.min_by(price, F.struct(F.col(ts), F.col(price))).alias(
                "daily_open"
            ),
            F.max(price).alias("daily_high"),
            F.min(price).alias("daily_low"),
            F.max_by(price, F.struct(F.col(ts), F.col(price))).alias(
                "daily_close"
            ),
            F.sum(volume).alias("daily_volume"),
            F.count(F.lit(1)).alias("tick_count"),
        )
    )
    if change_mode == "intraday":
        return agg.withColumn("daily_change", F.col("daily_close") - F.col("daily_open"))
    if change_mode == "close_over_close":
        w = Window.partitionBy(key).orderBy("date")
        return agg.withColumn(
            "daily_change", F.col("daily_close") - F.lag("daily_close").over(w)
        )
    raise ValueError(f"unknown change_mode: {change_mode}")


def risk_metrics(
    df: DataFrame,
    key: str = "symbol",
    ts: str = "timestamp",
    price: str = "price",
    volume: str = "volume",
) -> DataFrame:
    """Per-symbol risk panel from the daily OHLCV rollup: maximum drawdown
    (trough vs running peak of daily closes, with the trough date) and the
    range-based volatility estimators every desk quotes — Parkinson
    (high/low range) and Garman-Klass (OHLC), both annualized ×√252.

    Plan: the tick→daily rollup is the only data-sized pass; everything
    after runs on the |symbols|×|days| frame — one running-max window over
    the per-key date order, then a one-pass aggregate. GK's per-day term can
    go negative on pathological bars; the mean is floored at 0 before the
    sqrt (standard practice) so the estimator degrades, never NaNs.

    Nonpositive prints are excluded up front: a 0 price makes every
    log-range term divide by zero (daily_low = 0 ⇒ ln(high/low) blows up —
    this actually occurs in the sf0.1 lake), and a 0 close corrupts the
    drawdown ratio. Bad prints are a data-quality problem, not a risk
    signal; the clean operators (`operators/clean.py`) quarantine them.
    """
    from stock_market_data_pipeline_spark.utils import round_det

    daily = daily_ohlcv(
        df.filter(F.col(price) > 0), key=key, ts=ts, price=price, volume=volume
    )
    w = Window.partitionBy(key).orderBy("date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = daily.withColumn(
        "_dd",
        F.col("daily_close") / F.max("daily_close").over(w) - F.lit(1.0),
    )
    worst = Window.partitionBy(key).orderBy(F.col("_dd").asc(), F.col("date").asc())
    ln2 = 0.6931471805599453
    hl2 = F.pow(F.log(F.col("daily_high") / F.col("daily_low")), 2)
    co2 = F.pow(F.log(F.col("daily_close") / F.col("daily_open")), 2)
    return (
        dd.withColumn("_rn", F.row_number().over(worst))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            round_det(F.min("_dd"), 6).alias("max_drawdown"),
            F.min_by("date", "_rn").alias("worst_date"),
            round_det(
                F.sqrt(F.avg(hl2) / F.lit(4.0 * ln2)) * F.lit(252.0**0.5), 6
            ).alias("parkinson_vol"),
            round_det(
                F.sqrt(
                    F.greatest(
                        F.avg(
                            F.lit(0.5) * hl2 - F.lit(2.0 * ln2 - 1.0) * co2
                        ),
                        F.lit(0.0),
                    )
                )
                * F.lit(252.0**0.5),
                6,
            ).alias("gk_vol"),
        )
    )


def daily_vwap(
    df: DataFrame,
    key: str = "symbol",
    ts: str = "timestamp",
    price: str = "price",
    volume: str = "volume",
) -> DataFrame:
    """Daily volume-weighted average price per symbol — the batch
    reconciliation twin of the streaming running VWAP
    (`streaming/stateful.py:stream_running_vwap`): end-of-day the batch
    number is authoritative, intraday the stateful stream serves it live
    (the lambda-architecture pairing SURVEY §7 prescribes).

    One map-side-combined aggregate; the weighted sums are algebraic, so
    the plan is a single exchange on (symbol, date) regardless of scale.
    """
    from stock_market_data_pipeline_spark.utils import round_det

    return (
        df.groupBy(F.col(key), F.to_date(F.col(ts)).alias("date"))
        .agg(
            round_det(
                F.sum(F.col(price) * F.col(volume))
                / F.nullif(F.sum(volume).cast("double"), F.lit(0.0)),
                6,
            ).alias("vwap"),
            F.sum(volume).alias("total_volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def ohlcv_partial(
    df: DataFrame,
    key: str = "symbol",
    ts: str = "timestamp",
    price: str = "price",
    volume: str = "volume",
) -> DataFrame:
    """Mergeable per-(key, day) OHLCV partial state — the algebraic form of
    :func:`daily_ohlcv` that incremental view maintenance needs: carrying
    ``first_ts``/``last_ts`` makes open/close COMBINABLE (open of a merged
    state = open of the partial with the earliest first_ts), where the
    plain rollup's open/close are not."""
    # Struct ordering keys apply the SAME tie rule as combine_ohlcv_partials
    # (lowest price among tied-earliest ticks opens; highest among
    # tied-latest closes): a bare min_by(price, ts) picks an arbitrary row
    # when two ticks of one symbol share a timestamp WITHIN one increment,
    # so the determinism would hold across partials but not inside one
    # (round-7 ADVICE).
    return df.groupBy(F.col(key), F.to_date(F.col(ts)).alias("date")).agg(
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
        F.min_by(price, F.struct(F.col(ts), F.col(price))).alias("daily_open"),
        F.max(price).alias("daily_high"),
        F.min(price).alias("daily_low"),
        F.max_by(price, F.struct(F.col(ts), F.col(price))).alias("daily_close"),
        F.sum(volume).alias("daily_volume"),
        F.count(F.lit(1)).alias("tick_count"),
    )


def combine_ohlcv_partials(parts: DataFrame, key: str = "symbol") -> DataFrame:
    """Reduce any number of overlapping partial states to one row per
    (key, date): min/max/sum fold trivially; open/close pick the partial
    at the extreme timestamp. Associative + commutative, so increments can
    arrive in ANY order (late days, backfills, replays)."""
    # Struct orderings break first_ts/last_ts TIES deterministically (two
    # partials can share the day-edge timestamp when ticks at the exact
    # boundary land in different increments): open resolves to the LOWEST
    # price among tied-earliest partials, close to the HIGHEST among
    # tied-latest — stable across runs and engines (round-7 review).
    return parts.groupBy(key, "date").agg(
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.min_by(
            "daily_open", F.struct("first_ts", "daily_open")
        ).alias("daily_open"),
        F.max("daily_high").alias("daily_high"),
        F.min("daily_low").alias("daily_low"),
        F.max_by(
            "daily_close", F.struct("last_ts", "daily_close")
        ).alias("daily_close"),
        F.sum("daily_volume").alias("daily_volume"),
        F.sum("tick_count").alias("tick_count"),
    )


def merge_daily_ohlcv(
    spark,
    ticks: DataFrame,
    store_path: str,
    key: str = "symbol",
    ts: str = "timestamp",
    price: str = "price",
    volume: str = "volume",
    n_buckets: int = 64,
) -> dict[str, int]:
    """Incremental materialized-rollup maintenance (X99): fold a tick
    increment into a persistent daily-OHLCV manifest table WITHOUT
    re-reading history — the warehouse-rollup refresh the reference's
    daily contract implies, as a pure lake operation.

    Each refresh aggregates ONLY the increment (map-side combined to
    |symbols|×|days| partial rows), then merges through
    :func:`..sinks.manifest_lake.merge_upsert_manifest` with
    :func:`combine_ohlcv_partials` as the reducer — so a refresh rewrites
    only the (symbol, date) key buckets the increment touches, and the
    merge combines overlapping days instead of overwriting them. At
    100 TB/day the refresh cost is O(increment + touched buckets), never
    O(history).

    Returns the merge's counts (``touched_buckets``, ``carried_files``,
    ``rewritten_files``). Read the store with
    :func:`..sinks.manifest_lake.read_manifest`; finalize ``daily_change``
    downstream (intraday or close-over-close — both are projections over
    the tiny state table).
    """
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    parts = ohlcv_partial(ticks, key=key, ts=ts, price=price, volume=volume)
    return merge_upsert_manifest(
        spark,
        parts,
        store_path,
        keys=[key, "date"],
        order_col="last_ts",
        n_buckets=n_buckets,
        reducer=lambda df: combine_ohlcv_partials(df, key=key),
    )
