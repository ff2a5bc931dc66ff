"""Incremental dedup vs the persistent fingerprint store: classification
semantics, bucket-pruned store reads, and the idempotence contract (re-merging
the same batch adds nothing — at-least-once upstream delivery is safe).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.operators.incremental import (
    STORE_KEY,
    incremental_dedup_batch,
    seed_fingerprint_store,
)
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    manifest_files,
    read_manifest,
)
from stock_market_data_pipeline_spark.sources.batch import read_table


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_incremental_dedup_idempotent_rerun(spark, sf_dir, tmp_path):
    store = str(tmp_path / "fp_store")
    docs = _docs(spark, sf_dir)
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    seed_fingerprint_store(spark, seed, store)
    n_seed = read_manifest(spark, store).count()
    assert n_seed == seed.select(F.md5(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    )).distinct().count()

    first = incremental_dedup_batch(spark, batch, store)
    by_status = {r["status"]: r["n"] for r in
                 first.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_status.get("novel", 0) > 0
    n_after_first = read_manifest(spark, store).count()
    assert n_after_first == n_seed + by_status.get("novel", 0)

    # Re-merge the SAME batch: every row is now dup_of_store, and the store
    # does not grow — replay safety.
    second = incremental_dedup_batch(spark, batch, store)
    statuses = {r["status"] for r in second.select("status").distinct().collect()}
    assert statuses == {"dup_of_store"}
    assert read_manifest(spark, store).count() == n_after_first

    # Store invariant: exactly one row per distinct fingerprint ever seen.
    all_fp = (
        docs.select(F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias(STORE_KEY)).distinct().count()
    )
    assert n_after_first == all_fp


def test_incremental_lookup_prunes_store_partitions(spark, sf_dir, tmp_path):
    """The classification lookup must read only the buckets the batch hashes
    into: seed a 16-bucket store, and assert that the lookup read of a tiny
    batch opens only the files of a strict subset of the buckets — and
    still finds every stored fingerprint the batch carries."""
    import os

    from stock_market_data_pipeline_spark.operators.dedup import normalize_text
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_touched_buckets,
    )

    store = str(tmp_path / "fp_store")
    docs = _docs(spark, sf_dir)
    seed_fingerprint_store(spark, docs.filter(F.col("doc_id") % 3 == 0), store)
    tiny = docs.filter(F.col("doc_id") % 100 == 1)
    probe = tiny.select(F.md5(normalize_text("text")).alias(STORE_KEY))
    looked = read_touched_buckets(spark, store, probe, [STORE_KEY], 16)
    bucket_of = {e["name"]: e["bucket"] for e in manifest_files(spark, store)}
    opened = {os.path.basename(f) for f in looked.inputFiles()}
    touched = {bucket_of[n] for n in opened}
    # sanity: a tiny batch should not touch every bucket
    assert 0 < len(touched) < 16
    assert opened == {n for n, b in bucket_of.items() if b in touched}

    in_store = {r[STORE_KEY] for r in read_manifest(spark, store).collect()}
    classified = incremental_dedup_batch(spark, tiny, store)
    assert classified.count() == tiny.count()
    for r in classified.collect():
        assert (r["status"] == "dup_of_store") == (r[STORE_KEY] in in_store)
