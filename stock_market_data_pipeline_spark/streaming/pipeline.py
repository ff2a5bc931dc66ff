"""Streaming analytics pipelines (SURVEY T1-T8, K3; §7 hard-part #1).

The reference's structured-streaming job joins two *windowed streaming
aggregations* — an illegal plan Structured Streaming rejects at analysis
(``spark_stream_processor.py:216-234``); its own workaround is re-running the
identical logic as a batch job per Airflow run (SBP, "MINIMAL CHANGES …
converted to batch"). The engine implements the *intent* legally, both ways:

* :func:`stream_windowed_analytics` — the batch ``windowed_analytics`` plan
  runs inside ``foreachBatch`` on each micro-batch (the reference's de-facto
  semantics, now with checkpointed exactly-once file output and no Airflow).
  Batch/streaming share the exact same transform (*Structured Streaming*,
  SIGMOD 2018 — incrementalized batch code), so tests can assert
  stream-result == batch-result.
* :func:`stream_sliding_metrics` — the single-aggregation half as a *native*
  streaming windowed aggregation with watermark (T1) + append mode (T6):
  state lives in executor state stores, late data beyond the watermark is
  dropped, and only finalized windows emit. This is the scale path for the
  pure aggregation (no join): state is pruned by watermark, throughput is
  bounded by state-store updates, not re-aggregation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stock_market_data_pipeline_spark.plans.analytics import windowed_analytics


def stream_sliding_metrics(
    ticks: DataFrame,
    window_size: str = "15 minutes",
    slide: str = "5 minutes",
    watermark: str = "5 minutes",
    ts: str = "timestamp",
    key: str = "symbol",
) -> DataFrame:
    """Native streaming windowed aggregation (legal single-agg plan).

    Returns an unstarted streaming DataFrame; attach a sink + outputMode
    ("append" emits watermark-finalized windows only — T6 note).
    """
    return (
        ticks.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), window_size, slide))
        .agg(
            F.avg("price").alias("ma"),
            F.stddev("price").alias("volatility"),
            F.sum("volume").alias("volume_sum"),
        )
        .select(
            key,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "ma",
            "volatility",
            "volume_sum",
        )
    )


def stream_session_stats(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    gap_minutes: int = 30,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization: the native-streaming twin of the batch
    ``operators.events.session_stats`` (VERDICT r3 #7).

    Uses ``F.session_window`` — Spark's state-mergeable session window — so
    the gap rule runs incrementally: each key's open session lives in the
    state store, merges with in-gap events, and is finalized (emitted under
    append mode) once the event-time watermark passes ``last_event + gap``.
    State per key is O(open sessions), pruned by the watermark — the only
    formulation that survives an unbounded stream; the batch lag/cumsum
    formulation needs the whole key history and is the backfill path.

    Gap-boundary semantics match batch ``sessionize`` exactly, at
    MICROsecond precision: the native merge test is inclusive, so an event
    at precisely ``last + gap`` EXTENDS the session — the batch rule's
    strict ``gap > gap_minutes`` (measured, not assumed: the boundary test
    in test_stream_merge.py pins 1799.9 s/1800.0 s/1800.1 s gaps to
    merge/merge/split on both formulations). (``session_start``/``session_end`` here are
    the observed event bounds, same as the batch rollup, not the padded
    window end.)

    Returns an unstarted streaming DataFrame; attach a sink with
    outputMode("append"). Works identically on a batch DataFrame, which is
    how the parity test pins stream-semantics == batch-semantics.
    """
    gap = f"{gap_minutes} minutes"
    # Flavor-blind: withWatermark rejects TIMESTAMP_NTZ (the lake's flavor
    # under inferTimestampNTZ), so normalize to TIMESTAMP first — session TZ
    # is pinned UTC (session.py), the instants are unchanged.
    events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    grouped = (
        (
            events.withWatermark(ts, watermark)
            if events.isStreaming
            else events
        )
        .groupBy(F.col(key), F.session_window(F.col(ts), gap))
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value).alias("value_sum"),
        )
    )
    return grouped.select(
        key,
        "session_start",
        "session_end",
        (
            F.unix_timestamp(F.col("session_end").cast("timestamp"))
            - F.unix_timestamp(F.col("session_start").cast("timestamp"))
        ).alias("duration_sec"),
        "n_events",
        "value_sum",
    )


def stream_dedup_keyed(
    ticks: DataFrame,
    keys: list[str] | None = None,
    ts: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming keyed deduplication with bounded state — the streaming twin
    of the batch ``dedup_keep_last`` (A8): at-least-once upstream delivery
    (the reference's Kafka consumer commits after write,
    ``realtime_data_consumer.py`` — redelivery duplicates rows) becomes
    exactly-once-per-key downstream.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires each
    key's state once the event-time watermark passes it — state is
    O(keys-in-watermark-window), not O(all keys ever), which is the property
    that keeps an always-on dedup running for months at 100 TB/day (plain
    streaming ``dropDuplicates`` grows state without bound). First-seen row
    wins within the watermark window; the batch keep-last variant remains
    the reconciliation pass (SURVEY §7 lambda note).

    Returns an unstarted streaming DataFrame; works under append output with
    any sink.
    """
    if keys is None:
        keys = ["symbol", ts]
    return ticks.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def stream_merge_upsert_sink(
    stream: DataFrame,
    path: str,
    checkpoint_path: str,
    keys: list[str],
    order_col: str,
    trigger: dict | None = None,
    batch_transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """K6 under streaming: each micro-batch (optionally transformed by
    ``batch_transform`` — which may freely aggregate/join, since it runs on a
    batch DataFrame inside foreachBatch) MERGEs into the manifest table at
    ``path`` through :func:`..sinks.manifest_lake.merge_upsert_manifest`
    (last-writer-wins per key, one committed version per batch; read it
    with ``read_manifest``). Combined with the checkpoint, reprocessed
    batches are idempotent — the upsert collapses duplicate keys — giving the
    stage+MERGE warehouse semantics (``load_stream_to_snowflake.py:240-305``)
    without a warehouse."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_transform(batch_df) if batch_transform else batch_df
        merge_upsert_manifest(
            batch_df.sparkSession, out, path, keys=keys, order_col=order_col
        )

    writer = (
        stream.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "symbol",
    left_ts: str = "timestamp",
    right_ts: str = "quote_ts",
    watermark: str = "10 minutes",
    lookback: str = "15 minutes",
) -> DataFrame:
    """Legal stream-stream join: raw events joined on key within an event-time
    interval (right_ts ∈ [left_ts − lookback, left_ts]).

    This is the stream-stream join Structured Streaming DOES support — both
    sides raw (not aggregated) with watermarks and a range condition bounding
    state retention. The reference attempted the unsupported aggregated
    variant (``spark_stream_processor.py:216-234``); the legal decomposition
    is: interval-join raw streams here, or join *aggregates* per micro-batch
    in ``stream_windowed_analytics``.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] <= lw[left_ts])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def stream_windowed_analytics(
    ticks: DataFrame,
    output_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
    watermark: str = "5 minutes",
    batch_hook: Callable[[DataFrame, int], None] | None = None,
    post_write_hook: Callable[[int], None] | None = None,
) -> StreamingQuery:
    """The flagship pipeline under streaming: A1×A2 join per micro-batch.

    ``foreachBatch`` receives each micro-batch as a batch DataFrame; the
    *same* ``windowed_analytics`` plan used in batch mode runs on it and
    writes partitioned parquet — K3's trigger/checkpoint contract
    (``spark_stream_processor.py:256-263``) with the illegal stream-stream
    aggregation join replaced by this legal per-batch join.

    **Exactly-once file output.** ``foreachBatch`` itself is at-least-once: a
    crash after the write but before the checkpoint commit replays the batch
    on restart. The write is therefore made *idempotent* — each batch lands
    in its own ``batch_id=N`` partition via dynamic partition overwrite, so a
    replayed batch overwrites its own previous (possibly partial) output
    instead of appending a duplicate. Checkpointed offsets fix WHAT each
    batch contains; the deterministic transform + self-overwriting write fix
    what it produces. At-least-once replay + idempotent sink = exactly-once
    table contents.

    ``trigger`` e.g. ``{"processingTime": "1 minute"}`` (reference default) or
    ``{"availableNow": True}`` for drain-and-stop runs/tests.
    ``post_write_hook(batch_id)`` runs after the sink write but before the
    micro-batch commits — tests inject crashes there to prove the replay
    contract.
    """
    ticks = ticks.withWatermark("timestamp", watermark)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        result = windowed_analytics(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        )
        if batch_hook is not None:
            batch_hook(result, batch_id)
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "symbol")
            .option("compression", "snappy")
            .parquet(output_path)
        )
        if post_write_hook is not None:
            post_write_hook(batch_id)

    writer = (
        ticks.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_incremental_dedup(
    docs: DataFrame,
    store_path: str,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Ingest-time corpus dedup: every micro-batch of documents is classified
    against the persistent fingerprint store (novel / dup_in_batch /
    dup_of_store), the classified batch lands under
    ``output_path/ingest_batch=N``, and novel fingerprints merge into the
    store — the streaming twin of
    :func:`..operators.incremental.incremental_dedup_batch`, which is what a
    continuously-ingesting training-data pipeline actually runs.

    Exactly-once story: output is an idempotent per-batch dynamic partition
    overwrite (a replayed batch rewrites its own ``ingest_batch=N``
    directory); the store merge is idempotent per fingerprint; and
    classification itself is replay-stable because store rows carry
    ``first_batch_id`` — a crash between the store merge and the output
    commit re-runs the batch, sees its own fingerprints at
    ``first_batch_id == N``, and classifies them exactly as the first
    attempt did (strictly-earlier test; see the operator's docstring).

    100 TB posture: per micro-batch cost is O(batch) — bucket-pruned store
    lookup, bucket-scoped merge; state lives in the store table, not in
    executor memory, so an arbitrarily long stream holds no growing
    streaming state.
    """
    from stock_market_data_pipeline_spark.operators.incremental import (
        incremental_dedup_batch,
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        classified = incremental_dedup_batch(
            spark,
            batch_df,
            store_path,
            id_col=id_col,
            text_col=text_col,
            n_buckets=n_buckets,
            batch_id=batch_id,
        )
        (
            classified.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(output_path)
        )

    writer = (
        docs.writeStream.foreachBatch(_gate)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_apply_changelog(
    changes: DataFrame,
    table_root: str,
    keys: list[str],
    seq_col: str,
    checkpoint_path: str,
    op_col: str = "op",
    delete_op: str = "delete",
    trigger: dict | None = None,
    n_buckets: int = 64,
) -> StreamingQuery:
    """Continuous CDC materialization: each micro-batch of changelog events
    folds into a lake table — the streaming form of
    :func:`..operators.cdc.apply_changelog`, i.e. what a Debezium→lake
    consumer actually runs. Read the live rows back with
    :func:`..operators.cdc.read_cdc_state`.

    The stored table RETAINS ``seq_col`` and ``op_col`` — delete winners
    persist as tombstone rows. Every fold is therefore seq-aware across
    batches: the new state is ``changelog_winners(current ∪ batch)``, so a
    late or redelivered event whose seq is LOWER than what the table
    already holds loses to the stored row (the round-6 fold anti-joined
    touched keys away unconditionally, which let a stale redelivery
    regress a key), and a late upsert arriving after a higher-seq delete
    cannot resurrect the key (the tombstone out-ranks it). Replay after a
    lost checkpoint is idempotent for the same reason: re-folding events
    the table has already absorbed picks the same winners.

    The table is a manifest table: each batch's winners fold through
    :func:`..sinks.manifest_lake.merge_upsert_manifest` with
    ``changelog_winners`` as the reducer, so a micro-batch rewrites ONLY
    the ``n_buckets`` key buckets it touches (a 10-key batch against a
    4096-bucket table rewrites ≈ 0.2 % of it) and commits one version:
    readers only ever resolve complete versions, and time travel works.
    Superseded versions (and their files) are kept until
    :func:`..sinks.manifest_lake.vacuum_manifest` runs, as with every
    other manifest writer. Tombstones live in their key's bucket; retire
    old ones on a retention schedule with
    ``delete_where_dv(spark, root, "op = 'delete' AND seq < cutoff")``
    (then ``purge_deletion_vectors``), keeping the cutoff below the
    oldest sequence number still in flight — a dropped tombstone re-opens
    its key to late lower-seq upserts.

    State lives in the table, not the state store: an arbitrarily long
    stream holds no growing streaming state.
    """
    from stock_market_data_pipeline_spark.operators.cdc import changelog_winners
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    def _winners(df: DataFrame) -> DataFrame:
        return changelog_winners(
            df, keys, seq_col, op_col=op_col, delete_op=delete_op
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the reducer folds in-batch duplicates together with the
        # stored rows, so the raw batch goes in as is
        merge_upsert_manifest(
            batch_df.sparkSession,
            batch_df,
            table_root,
            keys=keys,
            order_col=seq_col,
            n_buckets=n_buckets,
            reducer=_winners,
        )

    writer = (
        changes.writeStream.foreachBatch(_fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_with_dead_letter(
    parsed: DataFrame,
    output_path: str,
    dead_letter_path: str,
    checkpoint_path: str,
    ok_col: str = "_value_ok",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Envelope-gated ingest with a REAL dead-letter lane: each micro-batch
    of a parsed Kafka envelope stream (:func:`..streaming.sources.
    parse_kafka_envelope`) splits on ``ok_col`` — clean rows append to the
    main lake path, poison rows append (with their full lineage: topic/
    partition/offset) to the dead-letter path for replay/inspection, and
    both sides roll up through :func:`..streaming.sources.
    dead_letter_stats` semantics downstream.

    One localCheckpoint per batch keeps the split from re-reading the
    source twice; each side lands in an explicit ``ingest_batch=N``
    subdirectory (Hive layout by path — readers of the root recover the
    batch id as a partition column), overwritten whole on replay, so a
    crash between the two writes replays the batch idempotently. An EMPTY
    side still writes one schema-bearing file (``coalesce(1)`` — a
    dynamic-partition overwrite of zero rows writes nothing at all,
    leaving the directory unreadable for the healthy-stream /
    all-poison-batch cases).
    """

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        pinned = batch_df.localCheckpoint(eager=True)
        for side, path in (
            (pinned.filter(F.col(ok_col)), output_path),
            (pinned.filter(~F.col(ok_col)), dead_letter_path),
        ):
            out = side.coalesce(1) if side.isEmpty() else side
            out.write.mode("overwrite").parquet(
                f"{path.rstrip('/')}/ingest_batch={batch_id}"
            )

    writer = (
        parsed.writeStream.foreachBatch(_gate)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_dim_enrich(
    stream_df: DataFrame,
    dim_root: str,
    keys: list[str],
    output_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
):
    """Stream-static enrichment against a VERSIONED dimension: every
    micro-batch re-resolves the currently-committed version of the
    dimension, a manifest table (``sinks/manifest_lake.py:publish_files``),
    and broadcast-joins it onto the batch — the slowly-changing-dimension
    pattern for streams. A plain static DataFrame in a stream-static join
    pins the file listing at query start, so dimension updates published
    mid-stream are invisible; resolving INSIDE ``foreachBatch`` picks up
    each new version at the next batch boundary, and the manifest commit
    guarantees a batch never reads a half-published dimension.

    Left join: facts with no dimension row pass through with NULLs (the
    standard late-dimension posture — downstream can reprocess from the
    idempotent ``batch_id=N`` partitions once the dimension lands).

    Scale: the dimension is broadcast per batch — correct for dims that
    fit an executor (the usual SCD case); a fact-sized dimension should
    use :func:`stream_merge_upsert_sink` materialization plus a batch
    join instead. Output is exactly-once by the same idempotent
    dynamic-overwrite contract as ``stream_windowed_analytics``.
    """
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dim = read_manifest(spark, dim_root)
        out = batch_df.join(F.broadcast(dim), keys, "left").withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_path)
        )

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def streaming_progress_stats(query) -> list[dict]:
    """Per-batch observability rollup from a streaming query's progress
    history: input rows, processed-rows/sec, and the watermark-dropped row
    count per state operator — the metric that tells you whether the
    configured lateness bound is silently discarding data (the streaming
    twin of the batch expectations gate). Works on a live or finished
    query; returns one dict per progress event in order.
    """
    out = []
    for p in query.recentProgress:
        if p is None:
            continue
        dropped = sum(
            int(getattr(s, "numRowsDroppedByWatermark", 0) or 0)
            for s in (p.stateOperators or [])
        )
        out.append(
            {
                "batch_id": p.batchId,
                "input_rows": int(p.numInputRows or 0),
                "dropped_by_watermark": dropped,
                "watermark": (p.eventTime or {}).get("watermark"),
            }
        )
    return out


def stream_append_manifest(
    stream_df: DataFrame,
    root: str,
    checkpoint_path: str,
    stats_cols: list[str] | None = None,
    trigger: dict | None = None,
    app_id: str = "stream-append",
    post_commit_hook=None,
):
    """Exactly-once streaming ingestion into a manifest-file-list table
    (``sinks/manifest_lake.py``): each micro-batch appends its files as a
    new manifest version under the idempotent ``(app_id, batch_id)`` txn —
    a crash between the manifest commit and the checkpoint commit replays
    the batch, and the replayed append is a manifest-level NO-OP, so the
    at-least-once ``foreachBatch`` contract yields exactly-once table
    contents (Delta's txn appId/version protocol in miniature, but
    file-native).

    Pair with ``compact_manifest`` as the maintenance pass (micro-batch
    appends accrete small files by construction) and ``vacuum_manifest``
    to collect pre-compaction garbage. ``post_commit_hook(batch_id)``
    runs after the manifest commit and before the checkpoint commit —
    tests inject crashes there to prove the replay contract.
    """
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        append_files(
            batch_df.sparkSession,
            batch_df,
            root,
            stats_cols=stats_cols,
            txn_id=(app_id, batch_id),
        )
        if post_commit_hook is not None:
            post_commit_hook(batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_wap_append_manifest(
    stream_df: DataFrame,
    root: str,
    checkpoint_path: str,
    audit,
    stats_cols: list[str] | None = None,
    trigger: dict | None = None,
    app_id: str = "stream-wap",
):
    """Quality-GATED exactly-once streaming ingestion: each micro-batch
    goes through write-audit-publish (``sinks/manifest_lake.py:
    publish_files_wap``) under the idempotent ``(app_id, batch_id)``
    txn — the batch's files are staged invisibly, ``audit(candidate)``
    inspects the WOULD-BE table (previous contents + this batch), and
    only a passing verdict promotes. A failing audit raises
    ``AuditFailedError`` out of ``foreachBatch``, which STOPS the stream
    with the table still byte-identical to the last good version — the
    circuit-breaker semantics an ingest quality gate wants (bad upstream
    data halts the pipeline loudly; no reader ever saw it; fixing the
    source and restarting from the checkpoint replays the batch through
    the same gate). Replay of an already-promoted batch is a manifest
    no-op (the txn watermark), so at-least-once delivery still yields
    exactly-once contents. At 100 TB the audit is priced by what it
    checks — stats-level expectations read metadata, row-level checks
    scan the candidate."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        publish_files_wap,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        publish_files_wap(
            batch_df.sparkSession,
            batch_df,
            root,
            audit=audit,
            stats_cols=stats_cols,
            txn_id=(app_id, batch_id),
        )

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
