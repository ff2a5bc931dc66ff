"""Incremental corpus dedup against a persistent fingerprint store — the
production shape of exact dedup for a training-data pipeline that ingests
batches continuously instead of re-scanning the whole corpus.

A manifest table, bucketed by fingerprint, holds one row per content
fingerprint ever seen (``fingerprint`` md5, ``canonical_id``). Each new
batch is:

1. fingerprinted (md5 of normalized text — same canonical form as
   :func:`..operators.dedup.dedup_exact_text`);
2. classified against the store with a bucket-pruned lookup join —
   :func:`..sinks.manifest_lake.read_touched_buckets` opens only the files
   of the buckets the batch's fingerprints hash into, so a small batch
   against a 100-TB-corpus store touches O(batch) data, never the whole
   store;
3. the batch's novel fingerprints are merged back via the keyed MERGE
   (:func:`..sinks.manifest_lake.merge_upsert_manifest`), which rewrites
   only the touched buckets and commits a new store version.

This composes dedup + K6 exactly like the reference's incremental
load-then-MERGE loop (``load_to_snowflake.py:212-229``), with the
warehouse MERGE replaced by the lake-native keyed merge.

Idempotence: re-merging the same batch adds nothing — the merge dedups per
fingerprint keep-last on a stable order column, so replays (at-least-once
upstream delivery, job retries) are safe.

Ordering contract: classification is pinned (localCheckpoint) BEFORE the
store update runs, because the lazy classified plan reads store files the
merge is about to supersede (and a later vacuum deletes). In production
the classified batch is written to the lake first, then the store
updated — same write-then-merge ordering, durable instead of
session-cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.operators.dedup import normalize_text
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    merge_upsert_manifest,
    read_touched_buckets,
)

STORE_KEY = "fingerprint"


def seed_fingerprint_store(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    batch_id: int = -1,
) -> None:
    """Initialize (or top up) the store from a document frame: one row per
    distinct fingerprint, canonical_id = min id that produced it.
    ``first_batch_id`` records ingest lineage (seeded history = -1) so a
    streaming gate can distinguish "seen in an EARLIER batch" from "merged
    by a crashed attempt of THIS batch" (see ``batch_id`` below)."""
    fps = (
        docs.select(
            F.md5(normalize_text(text_col)).alias(STORE_KEY),
            F.col(id_col).alias("canonical_id"),
        )
        .groupBy(STORE_KEY)
        .agg(F.min("canonical_id").alias("canonical_id"))
        .withColumn("first_batch_id", F.lit(batch_id).cast("bigint"))
    )
    merge_upsert_manifest(
        spark,
        fps,
        store_path,
        keys=[STORE_KEY],
        order_col="canonical_id",
        n_buckets=n_buckets,
    )


def incremental_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    batch_id: int | None = None,
) -> DataFrame:
    """Classify a new batch against the fingerprint store, then merge the
    batch's novel fingerprints in.

    Output per batch row: ``doc_id``, ``fingerprint``, ``status`` —
    ``dup_of_store`` (content already ingested in a prior batch),
    ``dup_in_batch`` (first seen in THIS batch but not this row), or
    ``novel`` (this row is the batch-canonical first sighting).

    ``batch_id`` (streaming gate): when given, a store row counts as
    "prior" only if its ``first_batch_id`` is STRICTLY EARLIER. This makes
    classification replay-idempotent under at-least-once delivery: if a
    run crashed after the store merge but before the output committed, the
    replay of the same micro-batch sees its own fingerprints in the store
    with ``first_batch_id == batch_id`` and still classifies them
    novel/dup_in_batch exactly as the first attempt did. ``None`` keeps
    plain presence semantics for one-shot batch jobs.

    100 TB posture: the lookup join reads only the store files of the
    buckets the batch hashes into; the store update rewrites only those
    buckets. The batch never shuffles against the full store.
    """
    fp = batch.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(text_col)).alias(STORE_KEY),
    )
    store = read_touched_buckets(spark, store_path, fp, [STORE_KEY], n_buckets)
    if store is not None:
        looked = fp.join(
            store.select(
                STORE_KEY, F.col("first_batch_id").alias("_store_batch")
            ),
            STORE_KEY,
            "left",
        )
    else:
        looked = fp.withColumn("_store_batch", F.lit(None).cast("bigint"))
    prior = (
        F.col("_store_batch") < batch_id
        if batch_id is not None
        else F.col("_store_batch").isNotNull()
    )
    batch_min = fp.groupBy(STORE_KEY).agg(F.min("doc_id").alias("_bmin"))
    classified = (
        looked.join(batch_min, STORE_KEY)
        .select(
            "doc_id",
            STORE_KEY,
            F.when(prior, F.lit("dup_of_store"))
            .when(F.col("doc_id") == F.col("_bmin"), F.lit("novel"))
            .otherwise(F.lit("dup_in_batch"))
            .alias("status"),
        )
        # Pin the pre-merge classification: the merge below supersedes the
        # very store files this lazy plan reads.
        .localCheckpoint(eager=True)
    )
    novel = (
        classified.filter(F.col("status") == "novel")
        .select(
            STORE_KEY,
            F.col("doc_id").alias("canonical_id"),
            F.lit(-1 if batch_id is None else batch_id)
            .cast("bigint")
            .alias("first_batch_id"),
        )
    )
    # a batch of known documents adds nothing: commit no empty store
    # version (the check reads the checkpointed classification); the
    # first call still creates the store
    if store is None or not novel.isEmpty():
        merge_upsert_manifest(
            spark,
            novel,
            store_path,
            keys=[STORE_KEY],
            order_col="canonical_id",
            n_buckets=n_buckets,
        )
    return classified
