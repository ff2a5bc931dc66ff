"""Streaming MERGE-upsert sink: reprocessing must be idempotent and the
final table must equal the batch MERGE result."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.plans.analytics import windowed_analytics
from stock_market_data_pipeline_spark.sinks.manifest_lake import read_manifest
from stock_market_data_pipeline_spark.sources.ticks import ticks_from_events
from stock_market_data_pipeline_spark.streaming.pipeline import (
    stream_merge_upsert_sink,
)


def test_stream_merge_upsert_idempotent(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    t = ticks_from_events(spark, sf_dir).select(
        "symbol", "price", "volume", "timestamp"
    )
    t.repartition(2).write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(
                "symbol string, price double, volume long, timestamp timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # per-batch windowed analytics merged on (symbol, window_start);
        # batches overlap in windows → the upsert must collapse them. The
        # analytics runs INSIDE foreachBatch (an aggregated stream-stream
        # join is illegal as a streaming plan — the reference's own bug).
        q = stream_merge_upsert_sink(
            stream,
            table,
            ckpt,
            keys=["symbol", "window_start"],
            order_col="updated_at",
            trigger={"availableNow": True},
            batch_transform=lambda df: windowed_analytics(df).withColumn(
                "updated_at", F.col("window_start")
            ),
        )
        q.awaitTermination(180)

    run()
    merged = read_manifest(spark, table)
    # keyed table: exactly one row per (symbol, window_start)
    dups = (
        merged.groupBy("symbol", "window_start").count().filter(F.col("count") > 1)
    )
    assert dups.count() == 0
    n1 = merged.count()
    # second run with same checkpoint: no new data → table unchanged
    run()
    assert read_manifest(spark, table).count() == n1


def test_subsecond_gap_boundary_batch_stream_agree(spark):
    """r6 sf0.1 mirror catch: a gap of 1799.9 s (just under the 30-min
    threshold) and a gap of exactly 1800.0 s must MERGE in both the batch
    lag/cumsum sessionizer and the native session_window (whose merge test
    is inclusive); 1800.1 s must SPLIT in both. Floored-seconds comparison
    gets the first wrong; a >= batch rule gets the second wrong."""
    import datetime

    from stock_market_data_pipeline_spark.operators.events import session_stats
    from stock_market_data_pipeline_spark.streaming.pipeline import (
        stream_session_stats,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: 1799.9 s gap -> one session
        (1, t0, 1.0),
        (1, t0 + datetime.timedelta(seconds=1799, microseconds=900_000), 1.0),
        # user 2: 1800.1 s gap -> two sessions
        (2, t0, 1.0),
        (2, t0 + datetime.timedelta(seconds=1800, microseconds=100_000), 1.0),
        # user 3: exactly 1800.0 s -> ONE session (native merge is inclusive)
        (3, t0, 1.0),
        (3, t0 + datetime.timedelta(seconds=1800), 1.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    batch = session_stats(ev, key="user_id", ts="ts", value="value")
    batch_counts = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # stream_session_stats runs the same plan on a batch frame (its parity mode)
    native = stream_session_stats(ev)
    native_counts = {
        r["user_id"]: r["n"]
        for r in native.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert batch_counts == native_counts == {1: 1, 2: 2, 3: 1}
