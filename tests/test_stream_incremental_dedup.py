"""Streaming ingest-time dedup: micro-batches classified against the
persistent fingerprint store, with replay-stable classification.

Covers the production loop the batch-side test (test_incremental_dedup)
can't: per-micro-batch store evolution, cross-batch dup detection, and the
crash-between-merge-and-commit replay that flips statuses without
first_batch_id lineage.
"""

from __future__ import annotations

from stock_market_data_pipeline_spark.operators.incremental import (
    incremental_dedup_batch,
    seed_fingerprint_store,
)
from stock_market_data_pipeline_spark.sinks.manifest_lake import read_manifest
from stock_market_data_pipeline_spark.streaming.pipeline import (
    stream_incremental_dedup,
)


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_stream(spark, src, store, out, ckpt):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_incremental_dedup(
        stream, store, out, ckpt, n_buckets=4, trigger={"availableNow": True}
    )
    q.awaitTermination(120)


def test_cross_batch_and_in_batch_dups(spark, tmp_path):
    """File 1 (batch 0) introduces texts; file 2 (batch 1) repeats one of
    them, repeats a seeded-history text, dups internally, and adds a novel
    one — each row must get the right status."""
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    seed_fingerprint_store(
        spark, _docs_df(spark, [(1, "history text")]), store, n_buckets=4
    )
    b0 = _docs_df(spark, [(10, "alpha"), (11, "beta")])
    b1 = _docs_df(
        spark,
        [
            (20, "alpha"),        # dup of batch-0 content -> dup_of_store
            (21, "history text"), # dup of seeded history  -> dup_of_store
            (22, "gamma"),        # novel
            (23, "gamma"),        # in-batch dup
        ],
    )
    # flat dir: file source ignores nested non-partition subdirs; append adds
    # one part-file per write, and maxFilesPerTrigger=1 replays them in
    # modification-time order as separate micro-batches
    b0.coalesce(1).write.mode("append").parquet(src)
    import time; time.sleep(1.1)  # mtime tiebreak: keep file order deterministic
    b1.coalesce(1).write.mode("append").parquet(src)
    _run_stream(
        spark, src, store, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    got = {
        r.doc_id: (r.status, r.ingest_batch)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got[10] == ("novel", 0)
    assert got[11] == ("novel", 0)
    assert got[20] == ("dup_of_store", 1)
    assert got[21] == ("dup_of_store", 1)
    assert got[22] == ("novel", 1)
    assert got[23] == ("dup_in_batch", 1)
    # store ends complete: one row per distinct fingerprint ever seen
    fps = read_manifest(spark, store)
    assert fps.count() == fps.select("fingerprint").distinct().count() == 4


def test_replay_after_merge_is_classification_stable(spark, tmp_path):
    """Simulated crash between store merge and output commit: re-running
    the SAME micro-batch must reproduce the original statuses (its own
    fingerprints sit in the store at first_batch_id == batch_id, which the
    strictly-earlier test ignores) — and must add nothing to the store."""
    store = str(tmp_path / "store2")
    seed_fingerprint_store(
        spark, _docs_df(spark, [(1, "old news")]), store, n_buckets=4
    )
    batch = _docs_df(
        spark, [(30, "fresh"), (31, "fresh"), (32, "old news")]
    )
    first = {
        r.doc_id: r.status
        for r in incremental_dedup_batch(
            spark, batch, store, n_buckets=4, batch_id=7
        ).collect()
    }
    assert first == {30: "novel", 31: "dup_in_batch", 32: "dup_of_store"}
    n_store = read_manifest(spark, store).count()
    replay = {
        r.doc_id: r.status
        for r in incremental_dedup_batch(
            spark, batch, store, n_buckets=4, batch_id=7
        ).collect()
    }
    assert replay == first
    assert read_manifest(spark, store).count() == n_store
    # a LATER batch now sees the content as prior
    later = {
        r.doc_id: r.status
        for r in incremental_dedup_batch(
            spark,
            _docs_df(spark, [(40, "fresh")]),
            store,
            n_buckets=4,
            batch_id=8,
        ).collect()
    }
    assert later == {40: "dup_of_store"}


def test_stream_restart_does_not_reprocess(spark, tmp_path):
    """Checkpoint restart with no new files adds no output rows and no
    store rows."""
    store = str(tmp_path / "store3")
    src = str(tmp_path / "src3")
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    seed_fingerprint_store(
        spark, _docs_df(spark, [(1, "seed")]), store, n_buckets=4
    )
    _docs_df(spark, [(50, "x"), (51, "y")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_stream(spark, src, store, out, ckpt)
    n_out = spark.read.parquet(out).count()
    n_store = read_manifest(spark, store).count()
    _run_stream(spark, src, store, out, ckpt)
    assert spark.read.parquet(out).count() == n_out
    assert read_manifest(spark, store).count() == n_store
