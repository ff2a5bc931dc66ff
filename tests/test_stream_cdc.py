"""Streaming CDC materialization (stream_apply_changelog): micro-batch
folds through the keyed manifest MERGE equal the one-shot batch apply,
deletes tombstone across batches, late or redelivered lower-seq events
never regress state (the table retains seq + tombstones, so every fold is
seq-aware), replay after a lost checkpoint is idempotent, a 1-key
micro-batch rewrites exactly one key bucket's files, and old tombstones
retire through deletion vectors.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.operators.cdc import (
    apply_changelog,
    read_cdc_state,
)
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    delete_where_dv,
    manifest_files,
    purge_deletion_vectors,
    read_manifest,
)
from stock_market_data_pipeline_spark.streaming.pipeline import (
    stream_apply_changelog,
)

SCHEMA = "k long, seq long, op string, v double"

# Two table layouts through the one MERGE path: one bucket (every batch
# rewrites the whole table as one new version) and 8 key buckets (a batch
# rewrites only the buckets it touches).
LAYOUTS = pytest.mark.parametrize(
    "n_buckets", [1, 8], ids=["versioned", "bucketed"]
)


def _chg(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


B0 = [
    (1, 10, "upsert", 1.0),
    (2, 11, "upsert", 2.0),
    (3, 12, "upsert", 3.0),
]
B1 = [
    (1, 20, "upsert", 10.0),   # update key 1
    (2, 21, "delete", None),   # tombstone key 2
    (4, 22, "upsert", 4.0),    # new key
    (4, 23, "upsert", 4.5),    # in-batch update, greater seq wins
]
# Batch arriving AFTER B1 but carrying OLDER seqs (redelivery / late
# partition): nothing here may change the table — key 1 already at seq 20,
# key 2 tombstoned at seq 21.
B2_LATE = [
    (1, 15, "upsert", 99.0),   # stale update: loses to stored seq 20
    (2, 15, "upsert", 88.0),   # stale resurrect attempt: loses to tombstone 21
]


def _run(spark, src, root, ckpt, n_buckets=8):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_apply_changelog(
        stream, root, keys=["k"], seq_col="seq",
        checkpoint_path=ckpt, trigger={"availableNow": True},
        n_buckets=n_buckets,
    )
    q.awaitTermination(120)


def _state(spark, root):
    return {
        r["k"]: (r["seq"], r["v"])
        for r in read_cdc_state(spark, root).collect()
    }


def _write_batches(spark, src, *batches):
    for i, rows in enumerate(batches):
        if i:
            time.sleep(1.1)  # mtime order -> ordered micro-batches
        _chg(spark, rows).coalesce(1).write.mode("append").parquet(src)


@LAYOUTS
def test_stream_fold_matches_batch_apply(spark, tmp_path, n_buckets):
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    _write_batches(spark, src, B0, B1)
    _run(spark, src, root, ckpt, n_buckets)

    got = _state(spark, root)
    want = {
        r["k"]: (r["seq"], r["v"])
        for r in apply_changelog(
            _chg(spark, B0 + B1), keys=["k"], seq_col="seq"
        ).collect()
    }
    assert got == want == {1: (20, 10.0), 3: (12, 3.0), 4: (23, 4.5)}


@LAYOUTS
def test_late_lower_seq_events_do_not_regress_state(spark, tmp_path, n_buckets):
    """The round-6 ADVICE bug: a redelivered/late event with a LOWER seq in
    a later micro-batch must lose to the seq already in the table — both
    for live rows and for tombstoned keys (no resurrection)."""
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    _write_batches(spark, src, B0, B1, B2_LATE)
    _run(spark, src, root, ckpt, n_buckets)

    got = _state(spark, root)
    # identical to folding the full log in one batch apply (seq order,
    # not arrival order, decides)
    want = {
        r["k"]: (r["seq"], r["v"])
        for r in apply_changelog(
            _chg(spark, B0 + B1 + B2_LATE), keys=["k"], seq_col="seq"
        ).collect()
    }
    assert got == want == {1: (20, 10.0), 3: (12, 3.0), 4: (23, 4.5)}
    assert 2 not in got  # tombstone out-ranks the stale upsert


@LAYOUTS
def test_replay_after_lost_checkpoint_is_idempotent(spark, tmp_path, n_buckets):
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    _write_batches(spark, src, B0, B1)
    _run(spark, src, root, ckpt, n_buckets)
    first = _state(spark, root)

    # checkpoint wiped -> the whole log replays onto the existing table
    _run(spark, src, root, str(tmp_path / "ckpt2"), n_buckets)
    assert _state(spark, root) == first
    # tombstoned key stays absent through the replay
    assert 2 not in _state(spark, root)


def test_reader_never_sees_partial_state(spark, tmp_path):
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    _chg(spark, B0).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, ckpt)
    # after batch 0 the table is a complete committed version
    assert _state(spark, root) == {1: (10, 1.0), 2: (11, 2.0), 3: (12, 3.0)}
    time.sleep(1.1)
    _chg(spark, B1).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, root, str(tmp_path / "ckpt_b"))
    df = read_cdc_state(spark, root)
    # one row per surviving key, never a mix of versions
    assert df.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    assert _state(spark, root) == {1: (20, 10.0), 3: (12, 3.0), 4: (23, 4.5)}


def _entries_by_name(spark, root):
    return {e["name"]: e["bucket"] for e in manifest_files(spark, root)}


def test_bucketed_one_key_batch_rewrites_one_bucket(spark, tmp_path):
    """Manifest-level audit: after the table exists, a micro-batch
    touching ONE key replaces exactly one bucket's files, and every other
    bucket-tagged file is carried into the new version by reference — the
    scale contract that clears the full-table-rewrite weakness of the
    round-6 fold."""
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    # seed with keys spread over several of the 8 buckets
    seed = [(k, 10 + k, "upsert", float(k)) for k in range(1, 9)]
    _write_batches(spark, src, seed)
    _run(spark, src, root, ckpt)
    before = _entries_by_name(spark, root)
    assert len(set(before.values())) > 1  # vacuous on a 1-bucket table

    src2, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    _write_batches(spark, src2, [(1, 99, "upsert", 42.0)])
    _run(spark, src2, root, ckpt2)
    after = _entries_by_name(spark, root)

    gone = {b for n, b in before.items() if n not in after}
    new = {b for n, b in after.items() if n not in before}
    assert len(gone) == 1 and new == gone
    carried = {n for n in before if n in after}
    assert {before[n] for n in carried} == set(before.values()) - gone
    assert _state(spark, root)[1] == (99, 42.0)


def test_tombstone_retention_via_deletion_vectors(spark, tmp_path):
    """Retention drops tombstone rows with a deletion-vector DELETE and a
    purge: a seq cutoff keeps the recent tombstones that still guard
    against late upserts, only the files holding dropped tombstones are
    rewritten, and live state is unchanged."""
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    live = [(k, 10 + k, "upsert", float(k)) for k in range(1, 9)]
    dels = [(100, 50, "delete", None), (200, 60, "delete", None)]
    _write_batches(spark, src, live + dels)
    _run(spark, src, root, ckpt)
    before_state = _state(spark, root)

    # cutoff keeps the seq-60 tombstone
    out = delete_where_dv(spark, root, "op = 'delete' AND seq < 55")
    assert out["deleted_rows"] == 1
    purged = purge_deletion_vectors(spark, root)
    assert purged["files_rewritten"] == 1  # the seq-50 tombstone's bucket
    df = read_manifest(spark, root)
    remaining = {
        r["k"] for r in df.filter(F.col("op") == "delete").collect()
    }
    assert remaining == {200}
    assert _state(spark, root) == before_state  # live rows untouched

    # drop the rest
    delete_where_dv(spark, root, "op = 'delete'")
    purge_deletion_vectors(spark, root)
    df2 = read_manifest(spark, root)
    assert df2.filter(F.col("op") == "delete").count() == 0
    assert _state(spark, root) == before_state
