"""Manifest-file-list table format (sinks/manifest_lake.py): versions
share unchanged files, retention/compaction touch only the boundary, and
vacuum never breaks a retained version.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    _COMMIT_SUFFIX,
    _data_dir,
    _mf_dir,
    append_files,
    compact_manifest,
    manifest_files,
    publish_files,
    read_manifest,
    retention_delete,
    vacuum_manifest,
)


def _ts_df(spark, lo_day, hi_day, n_per_day=10):
    days = []
    for d in range(lo_day, hi_day):
        days += [(d * 1000 + i, f"2026-01-{d:02d} 12:00:00") for i in range(n_per_day)]
    return spark.createDataFrame(days, "k long, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )


def test_publish_read_roundtrip_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    df1 = _ts_df(spark, 1, 5)
    v1 = publish_files(spark, df1.repartitionByRange(4, "ts"), root, stats_cols=["ts"])
    assert v1 == 1
    assert read_manifest(spark, root).count() == df1.count()
    df2 = _ts_df(spark, 1, 3)
    v2 = publish_files(spark, df2, root)
    assert v2 == 2
    assert read_manifest(spark, root).count() == df2.count()
    # time travel by reference: v1 still fully readable
    assert read_manifest(spark, root, version=v1).count() == df1.count()


def test_retention_carries_drops_and_rewrites(spark, tmp_path):
    """Files entirely inside the window carry BY REFERENCE (identical
    physical names), entirely-expired null-free files drop with zero IO,
    only the straddler is rewritten; row contents equal the plain
    filter."""
    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 9)  # days 1..8
    publish_files(
        spark, df.repartitionByRange(8, "ts"), root, stats_cols=["ts"]
    )
    before = {e["name"] for e in manifest_files(spark, root)}
    cutoff = dt.datetime(2026, 1, 4)  # days 1-3 expire; day 4+ kept
    res = retention_delete(spark, root, "ts", cutoff)
    after = manifest_files(spark, root)
    after_names = {e["name"] for e in after}
    assert res["dropped"] >= 2          # whole-day files vanish zero-IO
    assert res["carried"] >= 3
    assert res["rewritten"] <= 2        # at most the boundary file(s)
    # carried = same physical file names as v1 (shared, not copied)
    assert len(after_names & before) == res["carried"]
    got = read_manifest(spark, root)
    want = df.filter(F.col("ts") >= F.lit(cutoff))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_retention_never_expires_null_rows(spark, tmp_path):
    """A file whose range is entirely expired but that holds NULL-ts rows
    is rewritten down to the NULL rows, never dropped whole."""
    root = str(tmp_path / "t")
    rows = [(1, "2026-01-01 00:00:00"), (2, None), (3, "2026-03-01 00:00:00")]
    df = spark.createDataFrame(rows, "k long, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    publish_files(spark, df.coalesce(1), root, stats_cols=["ts"])
    res = retention_delete(spark, root, "ts", dt.datetime(2026, 2, 1))
    assert res["dropped"] == 0 and res["rewritten"] == 1
    left = {r["k"] for r in read_manifest(spark, root).collect()}
    assert left == {2, 3}  # expired row 1 gone, NULL row 2 KEPT


def test_compact_packs_only_small_files(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 5)
    publish_files(spark, df.repartition(6), root)
    sizes = [e["bytes"] for e in manifest_files(spark, root)]
    target = sum(sizes) * 4  # everything small; packs into ONE file
    res = compact_manifest(spark, root, target_file_bytes=target)
    assert res["compacted"] == 6 and res["files_written"] == 1
    assert read_manifest(spark, root).count() == df.count()
    # already-compacted table is a no-op (<= 1 small file)
    res2 = compact_manifest(spark, root, target_file_bytes=target)
    assert res2["compacted"] == 0


def test_vacuum_keeps_referenced_files_and_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    d1, d2, d3 = _ts_df(spark, 1, 3), _ts_df(spark, 3, 5), _ts_df(spark, 5, 7)
    publish_files(spark, d1, root)
    publish_files(spark, d2, root)
    publish_files(spark, d3, root)
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)
    assert res["manifests_deleted"] == 1
    assert res["files_deleted"] >= 1  # v1's unshared files collected
    # both retained versions still fully readable
    assert read_manifest(spark, root, version=2).count() == d2.count()
    assert read_manifest(spark, root, version=3).count() == d3.count()
    with pytest.raises(FileNotFoundError):
        read_manifest(spark, root, version=1)


def test_vacuum_preserves_shared_files_after_retention(spark, tmp_path):
    """Carried files are referenced by BOTH the pre- and post-retention
    manifests; vacuum with both retained must not delete them."""
    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 9)
    publish_files(spark, df.repartitionByRange(8, "ts"), root, stats_cols=["ts"])
    retention_delete(spark, root, "ts", dt.datetime(2026, 1, 4))
    n_rows = read_manifest(spark, root).count()
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)
    assert res["files_deleted"] == 0  # everything still referenced somewhere
    assert read_manifest(spark, root).count() == n_rows
    assert read_manifest(spark, root, version=1).count() == df.count()
    # drop v1 -> its unshared (expired + pre-rewrite) files become garbage
    res2 = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0.0)
    assert res2["files_deleted"] >= 2
    assert read_manifest(spark, root).count() == n_rows


def test_uncommitted_manifest_is_invisible_and_crash_heals(spark, tmp_path):
    """A manifest without its marker never resolves; stray staged files
    are collected by vacuum."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 3)
    publish_files(spark, df, root)
    fs = _HadoopFS(spark, root)
    # simulate a crash: v2 manifest written, marker never created
    fs.write_text(f"{_mf_dir(root)}/v00000002.json", '{"fmt":"parquet","files":[]}')
    assert read_manifest(spark, root).count() == df.count()  # still v1
    # simulate crashed stage: orphan data file never referenced
    fs.write_text(f"{_data_dir(root)}/orphan-file.parquet", "junk")
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)
    assert res["files_deleted"] >= 1
    names = set(fs.child_names(_data_dir(root)))
    assert "orphan-file.parquet" not in names
    assert read_manifest(spark, root).count() == df.count()


def test_vacuum_grace_protects_inflight_commit_artifacts(spark, tmp_path):
    """An in-flight commit stages data files, segments, and the version
    JSON BEFORE the marker; a concurrent vacuum must not collect those
    fresh artifacts (r12 advice: no-grace vacuum could delete segments a
    commit is about to reference). Young unreferenced files survive a
    graced vacuum; the same files are collected once expired (simulated
    by grace 0)."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import _seg_dir

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 3)
    publish_files(spark, df, root)
    fs = _HadoopFS(spark, root)
    # simulate the in-flight window: staged data file + segment + v2
    # manifest JSON written, marker not yet
    fs.write_text(f"{_data_dir(root)}/inflight-file.parquet", "staged")
    fs.write_text(f"{_seg_dir(root)}/inflight-seg.json", "[]")
    fs.write_text(
        f"{_mf_dir(root)}/v00000002.json", '{"fmt":"parquet","files":[]}'
    )
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=3600)
    assert res["files_deleted"] == 0
    assert res["segments_deleted"] == 0
    assert res["manifests_deleted"] == 0
    assert fs.exists(f"{_data_dir(root)}/inflight-file.parquet")
    assert fs.exists(f"{_seg_dir(root)}/inflight-seg.json")
    assert fs.exists(f"{_mf_dir(root)}/v00000002.json")
    # once expired (grace 0 = everything is past the window) the same
    # artifacts are garbage: the commit never completed
    res2 = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)
    assert res2["files_deleted"] >= 1
    assert res2["segments_deleted"] >= 1
    assert res2["manifests_deleted"] >= 1
    assert read_manifest(spark, root).count() == df.count()


def test_append_files_shares_history_and_txn_idempotence(spark, tmp_path):
    """Appends accumulate by reference; a replayed (app, n) txn is a
    manifest-level no-op checked before any staging IO."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
    )

    root = str(tmp_path / "t")
    d1, d2 = _ts_df(spark, 1, 3), _ts_df(spark, 3, 5)
    v1 = append_files(spark, d1, root, txn_id=("app", 0))
    v2 = append_files(spark, d2, root, txn_id=("app", 1))
    assert (v1, v2) == (1, 2)
    n_all = d1.count() + d2.count()
    assert read_manifest(spark, root).count() == n_all
    # v2 shares v1's files by reference
    f1 = {e["name"] for e in manifest_files(spark, root, version=1)}
    f2 = {e["name"] for e in manifest_files(spark, root, version=2)}
    assert f1 < f2
    # replay of txn 1 -> no new version, no new rows
    v_again = append_files(spark, d2, root, txn_id=("app", 1))
    assert v_again == 2
    assert read_manifest(spark, root).count() == n_all
    # a DIFFERENT app id is independent
    append_files(spark, _ts_df(spark, 5, 6), root, txn_id=("other", 0))
    assert read_manifest(spark, root).count() > n_all


def test_stream_append_manifest_exactly_once_across_crash(spark, tmp_path):
    """Crash AFTER the manifest commit but BEFORE the checkpoint commit:
    the restarted stream replays the batch, and the idempotent txn makes
    the replayed append a no-op — table contents stay exactly-once."""
    import time

    from stock_market_data_pipeline_spark.streaming.pipeline import (
        stream_append_manifest,
    )

    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, x long"
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(3, 30)], "k long, x long").coalesce(
        1
    ).write.mode("append").parquet(src)

    boom = {"armed": True}

    def crash_after_commit(batch_id):
        if batch_id == 1 and boom["armed"]:
            raise RuntimeError("injected crash after manifest commit")

    stream = (
        spark.readStream.schema("k long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_manifest(
        stream, root, ckpt,
        trigger={"availableNow": True},
        post_commit_hook=crash_after_commit,
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass
    assert not q.isActive
    # batch 1's manifest committed even though its checkpoint didn't
    assert read_manifest(spark, root).count() == 3

    boom["armed"] = False  # restart replays batch 1 -> append must no-op
    stream2 = (
        spark.readStream.schema("k long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = stream_append_manifest(
        stream2, root, ckpt, trigger={"availableNow": True}
    )
    q2.awaitTermination(120)
    out = read_manifest(spark, root)
    assert out.count() == 3  # no duplicate batch-1 rows
    assert {r["k"] for r in out.collect()} == {1, 2, 3}


def test_merge_upsert_manifest_touches_only_hit_buckets(spark, tmp_path):
    """A 1-key batch rewrites exactly its bucket's files; every other
    file carries by reference (physical-name identity); state equals the
    keep-last fold; a replayed txn is a no-op."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(500)], "k long, seq int, val double"
    )
    r0 = merge_upsert_manifest(
        spark, base, root, keys=["k"], order_col="seq", n_buckets=8,
        txn_id=("m", 0),
    )
    assert r0["touched_buckets"] == 8  # first merge buckets everything
    before = {e["name"] for e in manifest_files(spark, root)}
    assert all(e.get("bucket") is not None for e in manifest_files(spark, root))

    one = spark.createDataFrame(
        [(7, 2, 777.0)], "k long, seq int, val double"
    )
    r1 = merge_upsert_manifest(
        spark, one, root, keys=["k"], order_col="seq", n_buckets=8,
        txn_id=("m", 1),
    )
    after = manifest_files(spark, root)
    after_names = {e["name"] for e in after}
    assert r1["touched_buckets"] == 1
    assert r1["carried_files"] == len(after_names & before)
    # exactly the files of ONE bucket were replaced
    replaced = before - after_names
    buckets_replaced = {
        e["bucket"]
        for e in manifest_files(spark, root, version=1)
        if e["name"] in replaced
    }
    assert len(buckets_replaced) == 1

    state = {r["k"]: (r["seq"], r["val"]) for r in read_manifest(spark, root).collect()}
    assert len(state) == 500
    assert state[7] == (2, 777.0)
    assert state[8] == (1, 8.0)

    # replay txn 1 -> untouched
    r2 = merge_upsert_manifest(
        spark, one, root, keys=["k"], order_col="seq", n_buckets=8,
        txn_id=("m", 1),
    )
    assert r2["touched_buckets"] == 0
    assert {e["name"] for e in manifest_files(spark, root)} == after_names


def test_merge_upsert_manifest_rebuckets_plain_table(spark, tmp_path):
    """Merging into a table published via publish_files (no bucket tags)
    rewrites it bucketed once, then stays incremental."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(100)], "k long, seq int, val double"
    )
    publish_files(spark, base, root)
    r = merge_upsert_manifest(
        spark,
        spark.createDataFrame([(5, 2, -5.0)], "k long, seq int, val double"),
        root, keys=["k"], order_col="seq", n_buckets=4,
    )
    assert r["carried_files"] == 0  # untagged files all counted touched
    assert all(e.get("bucket") is not None for e in manifest_files(spark, root))
    state = {r_["k"]: r_["val"] for r_ in read_manifest(spark, root).collect()}
    assert len(state) == 100 and state[5] == -5.0
    r2 = merge_upsert_manifest(
        spark,
        spark.createDataFrame([(6, 3, -6.0)], "k long, seq int, val double"),
        root, keys=["k"], order_col="seq", n_buckets=4,
    )
    assert r2["touched_buckets"] == 1 and r2["carried_files"] >= 1


def test_read_manifest_pruned_skips_files(spark, tmp_path):
    """The stats prune loads strictly fewer files while returning exactly
    the filtered rows; appended files participate with their own stats;
    missing stats are conservatively read."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 9)
    publish_files(
        spark, df.repartitionByRange(8, "ts"), root, stats_cols=["ts"]
    )
    extra = _ts_df(spark, 20, 22)
    append_files(spark, extra, root, stats_cols=["ts"])
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 5)
    pruned = read_manifest_pruned(spark, root, "ts", lo=lo, hi=hi)
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest,
    )

    full = read_manifest(spark, root)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = full.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert pruned.exceptAll(want).count() == 0
    assert want.exceptAll(pruned).count() == 0
    # empty range
    assert read_manifest_pruned(
        spark, root, "ts", lo=dt.datetime(2030, 1, 1)
    ).count() == 0
    # no stats for the column -> full fallback, same rows
    fb = read_manifest_pruned(spark, root, "k", lo=1000, hi=2000)
    assert fb.count() == full.filter(
        (F.col("k") >= 1000) & (F.col("k") <= 2000)
    ).count()


# ---------------------------------------------------------------------------
# round-8 end-of-round review pins
# ---------------------------------------------------------------------------


def test_maintenance_preserves_txns_and_stats(spark, tmp_path):
    """Review r8 #1/#5: retention and compaction must carry the txn
    watermarks (or a replayed streaming batch double-appends) AND keep
    per-file stats alive (or pruning/zero-IO retention silently degrade
    to full scans)."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        compact_manifest,
        retention_delete,
    )

    root = str(tmp_path / "t")
    d1 = _ts_df(spark, 1, 9)
    append_files(spark, d1, root, stats_cols=["ts"], txn_id=("app", 5))
    retention_delete(spark, root, "ts", dt.datetime(2026, 1, 3))
    # txn watermark survived the maintenance pass -> replay is a no-op
    n = read_manifest(spark, root).count()
    append_files(spark, d1, root, stats_cols=["ts"], txn_id=("app", 5))
    assert read_manifest(spark, root).count() == n
    # rewritten boundary files carry ts stats (not narrowed away)
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        manifest_file_stats,
    )

    st = manifest_file_stats(spark, root)
    assert all(
        "ts" in st.get(e["name"], {}).get("stats", {})
        for e in manifest_files(spark, root)
    )
    # compaction keeps both too
    compact_manifest(spark, root, target_file_bytes=10**9)
    st2 = manifest_file_stats(spark, root)
    assert all(
        "ts" in st2.get(e["name"], {}).get("stats", {})
        for e in manifest_files(spark, root)
    )
    append_files(spark, d1, root, stats_cols=["ts"], txn_id=("app", 4))
    assert read_manifest(spark, root).count() == n  # still idempotent


def test_retention_to_empty_table_reads_as_zero_rows(spark, tmp_path):
    """Review r8 #4: expiring every row must leave a READABLE empty table
    (recorded schema), not a FileNotFoundError."""
    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 3)
    publish_files(spark, df, root, stats_cols=["ts"])
    res = retention_delete(spark, root, "ts", dt.datetime(2027, 1, 1))
    assert res["carried"] == 0
    out = read_manifest(spark, root)
    assert out.count() == 0
    assert set(out.columns) == {"k", "ts"}  # schema preserved


def test_maintenance_preserves_format(spark, tmp_path):
    """Review r8 #2: a json-format table stays json through retention and
    compaction (the rewrite must not silently switch to parquet)."""
    import json as _json

    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _mf_dir as mfd,
        compact_manifest,
        retention_delete,
    )

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 5)
    publish_files(spark, df.repartitionByRange(4, "ts"), root, fmt="json",
                  stats_cols=["ts"])
    retention_delete(spark, root, "ts", dt.datetime(2026, 1, 2))
    fs = _HadoopFS(spark, root)
    committed = sorted(
        n for n in fs.child_names(mfd(root)) if n.endswith(".json")
    )
    meta = _json.loads(fs.read_text(f"{mfd(root)}/{committed[-1]}"))
    assert meta["fmt"] == "json"
    got = read_manifest(spark, root)  # parses as json, not parquet
    assert got.count() == df.filter(
        F.col("ts") >= F.lit(dt.datetime(2026, 1, 2))
    ).count()
    compact_manifest(spark, root, target_file_bytes=10**9)
    assert read_manifest(spark, root).count() == got.count()


def test_merge_preserves_stats_for_pruning(spark, tmp_path):
    """Review r8 #5 (merge side): a merged table keeps per-file stats so
    the pruned reader still skips."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(400)], "k long, seq int, val double"
    )
    publish_files(spark, base, root, stats_cols=["k"])
    merge_upsert_manifest(
        spark,
        spark.createDataFrame([(3, 2, -3.0)], "k long, seq int, val double"),
        root, keys=["k"], order_col="seq", n_buckets=8,
    )
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        manifest_file_stats,
    )

    st = manifest_file_stats(spark, root)
    assert all(
        "k" in st.get(e["name"], {}).get("stats", {})
        for e in manifest_files(spark, root)
    )
    # hash-bucketed files legitimately span the full k range, so a
    # k-range prune cannot SKIP here — the point is the stats survive the
    # merge (pre-fix they were dropped entirely) and the pruned reader
    # stays correct over a merged table
    pruned = read_manifest_pruned(spark, root, "k", lo=0, hi=10)
    assert pruned.count() == 11
    assert {r["k"] for r in pruned.collect()} == set(range(11))
    assert pruned.filter(F.col("k") == 3).first()["val"] == -3.0


# ---------------------------------------------------------------------------
# round-9: stats sidecars, per-file keying, bucket-layout preservation,
# rollback / version-diff, manifest entry cap
# ---------------------------------------------------------------------------


def _kv_df(spark, n=400):
    return spark.createDataFrame(
        [(i, 1, float(i)) for i in range(n)], "k long, seq int, val double"
    )


def test_bucketed_stats_keyed_per_file(spark, tmp_path):
    """Round-9 HIGH advice pin: bucket-partitioned writes give files in
    different __mf_bucket= dirs IDENTICAL basenames; stats keyed by
    basename before the rename mixed every bucket's stats into one
    arbitrary file's row. Post-fix, each file's recorded min/max equals
    its actual contents."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        manifest_file_stats,
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark), root, stats_cols=["k"])
    merge_upsert_manifest(
        spark,
        spark.createDataFrame([(3, 2, -3.0)], "k long, seq int, val double"),
        root, keys=["k"], order_col="seq", n_buckets=8,
    )
    ents = manifest_files(spark, root)
    st = manifest_file_stats(spark, root)
    assert len(ents) >= 4
    recorded_mins = set()
    for e in ents:
        rec = st[e["name"]]["stats"]["k"]
        got = (
            spark.read.parquet(f"{_data_dir(root)}/{e['name']}")
            .agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
            .first()
        )
        assert (float(got["mn"]), float(got["mx"])) == (rec[0], rec[1])
        recorded_mins.add(rec[0])
    # pre-fix: every file carried ONE arbitrary file's stats
    assert len(recorded_mins) > 1


def test_maintenance_preserves_bucket_layout(spark, tmp_path):
    """Round-9 advice: compaction/retention re-staging must keep bucket
    tags (recomputed from the recorded keys) or every later merge treats
    the whole table as touched."""
    import datetime as dt

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
        retention_delete as ret,
    )

    root = str(tmp_path / "t")
    rows = [
        (i, 1, f"2026-01-{(i % 8) + 1:02d} 12:00:00") for i in range(500)
    ]
    base = spark.createDataFrame(rows, "k long, seq int, ts string").select(
        "k", "seq", F.col("ts").cast("timestamp").alias("ts")
    )
    merge_upsert_manifest(
        spark, base, root, keys=["k"], order_col="seq", n_buckets=8,
    )
    compact_manifest(spark, root, target_file_bytes=10**9)
    ents = manifest_files(spark, root)
    assert ents and all(e.get("bucket") is not None for e in ents)

    res = ret(spark, root, "ts", dt.datetime(2026, 1, 3))
    ents2 = manifest_files(spark, root)
    assert ents2 and all(e.get("bucket") is not None for e in ents2)
    assert res["rewritten"] >= 1  # hash buckets straddle -> rewrite path ran

    one = spark.createDataFrame(
        [(7, 9, None)], "k long, seq int, ts timestamp"
    )
    r = merge_upsert_manifest(
        spark, one, root, keys=["k"], order_col="seq", n_buckets=8,
    )
    assert r["touched_buckets"] == 1
    assert r["carried_files"] >= 1  # pre-fix: 0 (maintenance de-bucketed)
    state = {
        x["k"]: x["seq"] for x in read_manifest(spark, root).collect()
    }
    assert state[7] == 9
    # retention semantics held through the bucketed rewrite
    assert all(
        x["ts"] is None or x["ts"] >= dt.datetime(2026, 1, 3)
        for x in read_manifest(spark, root).collect()
    )


def test_merge_layout_mismatch_raises(spark, tmp_path):
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    merge_upsert_manifest(
        spark, _kv_df(spark, 50), root, keys=["k"], order_col="seq",
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="bucket layout"):
        merge_upsert_manifest(
            spark, _kv_df(spark, 1), root, keys=["k"], order_col="seq",
            n_buckets=8,
        )
    with pytest.raises(ValueError, match="bucket layout"):
        merge_upsert_manifest(
            spark, _kv_df(spark, 1), root, keys=["val"], order_col="seq",
            n_buckets=4,
        )


def test_rollback_copy_forward_and_gc_window(spark, tmp_path):
    """rollback_manifest re-publishes an old file list as the NEXT
    version (history linear, zero data IO), carries txn watermarks from
    the CURRENT version (restore must not reopen committed streaming
    txns), keeps pruning stats alive, and errors once the target has
    been vacuumed away."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        read_manifest_pruned,
        rollback_manifest,
    )

    root = str(tmp_path / "t")
    d1, d2 = _ts_df(spark, 1, 5), _ts_df(spark, 5, 9)
    v1 = publish_files(
        spark, d1.repartitionByRange(4, "ts"), root, stats_cols=["ts"]
    )
    v2 = append_files(spark, d2, root, stats_cols=["ts"], txn_id=("app", 7))
    assert (v1, v2) == (1, 2)
    v3 = rollback_manifest(spark, root, to_version=1)
    assert v3 == 3
    assert read_manifest(spark, root).count() == d1.count()
    # rolled-over version still time-travelable (linear history)
    assert read_manifest(spark, root, version=2).count() == (
        d1.count() + d2.count()
    )
    # restored manifest shares v1's physical files by reference
    assert {e["name"] for e in manifest_files(spark, root, version=3)} == {
        e["name"] for e in manifest_files(spark, root, version=1)
    }
    # txn watermark carried from CURRENT: replaying app/7 stays a no-op
    append_files(spark, d2, root, stats_cols=["ts"], txn_id=("app", 7))
    assert read_manifest(spark, root).count() == d1.count()
    # stats survived the restore -> pruned read still skips files
    import datetime as dt

    pruned = read_manifest_pruned(
        spark, root, "ts", lo=dt.datetime(2026, 1, 2),
        hi=dt.datetime(2026, 1, 2, 23),
    )
    full = read_manifest(spark, root)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() == 10
    # GC window: vacuum away v1/v2 -> restore target gone -> loud error
    vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        rollback_manifest(spark, root, to_version=2)


def test_manifest_version_diff_roundtrip(spark, tmp_path):
    """X92 parity on the manifest format: append -> added keys; rollback
    -> those keys removed; value update -> changed."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        manifest_version_diff,
        merge_upsert_manifest,
        rollback_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 100), root)
    append_files(
        spark,
        spark.createDataFrame(
            [(1000, 1, 0.5)], "k long, seq int, val double"
        ),
        root,
    )
    d12 = manifest_version_diff(spark, root, 1, 2, keys=["k"])
    assert {(r["k"], r["change_type"]) for r in d12.collect()} == {
        (1000, "added")
    }
    rollback_manifest(spark, root, to_version=1)
    d23 = manifest_version_diff(spark, root, 2, 3, keys=["k"])
    assert {(r["k"], r["change_type"]) for r in d23.collect()} == {
        (1000, "removed")
    }
    merge_upsert_manifest(
        spark,
        spark.createDataFrame([(5, 2, -5.0)], "k long, seq int, val double"),
        root, keys=["k"], order_col="seq", n_buckets=4,
    )
    d34 = manifest_version_diff(spark, root, 3, 4, keys=["k"])
    assert {(r["k"], r["change_type"]) for r in d34.collect()} == {
        (5, "changed")
    }


def _shrink_shard_consts(monkeypatch, inline=3, seg=4, fold=2):
    """Scale the two-level-manifest thresholds down so a handful of part
    files exercises the 800 k-entry layout: inline past ``inline``
    entries, ``seg`` entries per segment, reused segments under ``fold``
    entries folded (the production values are 10 k / 25 k / 6.25 k)."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml

    monkeypatch.setattr(ml, "MAX_INLINE_ENTRIES", inline)
    monkeypatch.setattr(ml, "MANIFEST_SEGMENT_ROWS", seg)
    monkeypatch.setattr(ml, "_MIN_SEGMENT_ROWS", fold)
    return ml


def _version_meta(spark, ml, root, version=None):
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    fs = _HadoopFS(spark, root)
    return ml._resolve_manifest(fs, root, version)


def test_manifest_shards_past_inline_threshold(spark, tmp_path, monkeypatch):
    """Round-11 verdict item 4: the old MAX_MANIFEST_ENTRIES hard cap made
    ~800 k-file (100 TB) tables unrepresentable. Past MAX_INLINE_ENTRIES
    the file list now shards into immutable shared segments; the version
    JSON carries only segment refs, and reads see every entry."""
    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 100).repartition(8), root)
    _, meta = _version_meta(spark, ml, root)
    assert meta["files"] == []
    assert len(meta["segments"]) == 2  # 8 entries / 4 per segment
    assert sum(s["count"] for s in meta["segments"]) == 8
    assert len(manifest_files(spark, root)) == 8
    assert read_manifest(spark, root).count() == 100


def test_append_to_sharded_table_reuses_segments(
    spark, tmp_path, monkeypatch
):
    """Append metadata IO is O(new files): prior full segments are
    carried into the new version by REFERENCE (same segment file names),
    and repeated small appends fold the undersized tail segment instead
    of accreting one segment per append."""
    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 80).repartition(8), root)
    _, m1 = _version_meta(spark, ml, root)
    segs1 = {s["name"] for s in m1["segments"]}
    append_files(
        spark,
        _kv_df(spark, 5).withColumn("k", F.col("k") + 1000).repartition(1),
        root,
    )
    _, m2 = _version_meta(spark, ml, root)
    segs2 = {s["name"] for s in m2["segments"]}
    assert segs1 <= segs2  # both full prior segments reused verbatim
    assert read_manifest(spark, root).count() == 85
    # second tiny append folds the 1-entry tail segment (< _MIN_SEGMENT_ROWS)
    append_files(
        spark,
        _kv_df(spark, 5).withColumn("k", F.col("k") + 2000).repartition(1),
        root,
    )
    _, m3 = _version_meta(spark, ml, root)
    assert len(m3["segments"]) == len(m2["segments"])  # fan-out bounded
    assert read_manifest(spark, root).count() == 90
    # time travel across the sharded history still resolves per version
    assert read_manifest(spark, root, version=1).count() == 80
    assert read_manifest(spark, root, version=2).count() == 85


def test_retention_reuses_fully_carried_segments(
    spark, tmp_path, monkeypatch
):
    """The metadata cost of a retention sweep mirrors its data cost: a
    segment whose files all survive is carried by reference; only
    boundary-touched segments are re-sharded."""
    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    # two appends -> two segments, each covering a disjoint day range
    publish_files(
        spark,
        _ts_df(spark, 1, 5).repartitionByRange(4, "ts"),
        root,
        stats_cols=["ts"],
    )
    append_files(
        spark,
        _ts_df(spark, 5, 9).repartitionByRange(4, "ts"),
        root,
        stats_cols=["ts"],
    )
    _, m2 = _version_meta(spark, ml, root)
    assert len(m2["segments"]) == 2
    old_segs = {s["name"] for s in m2["segments"]}
    res = retention_delete(
        spark, root, "ts", dt.datetime(2026, 1, 5), stats_cols=["ts"]
    )
    assert res == {"carried": 4, "dropped": 4, "rewritten": 0}
    _, m3 = _version_meta(spark, ml, root)
    new_segs = {s["name"] for s in m3["segments"]}
    # the all-carried segment is the SAME file; the all-dropped one is gone
    assert len(new_segs & old_segs) == 1
    assert read_manifest(spark, root).count() == 40


def test_merge_reuses_untouched_bucket_segments(
    spark, tmp_path, monkeypatch
):
    """Keyed MERGE on a sharded bucketed table: segments holding only
    untouched buckets are reused verbatim — metadata IO O(touched
    buckets) like the data IO."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    ml = _shrink_shard_consts(monkeypatch, inline=3, seg=2, fold=1)
    root = str(tmp_path / "t")
    merge_upsert_manifest(
        spark, _kv_df(spark, 100), root, keys=["k"], order_col="seq",
        n_buckets=4,
    )
    _, m1 = _version_meta(spark, ml, root)
    assert len(m1["segments"]) == 2  # 4 bucket files / 2 per segment
    segs1 = {s["name"] for s in m1["segments"]}
    res = merge_upsert_manifest(
        spark,
        spark.createDataFrame([(7, 2, -7.0)], "k long, seq int, val double"),
        root,
        keys=["k"],
        order_col="seq",
        n_buckets=4,
    )
    assert res["touched_buckets"] == 1
    _, m2 = _version_meta(spark, ml, root)
    segs2 = {s["name"] for s in m2["segments"]}
    # exactly one prior segment (the one without bucket(7)'s file) reused
    assert len(segs1 & segs2) == 1
    got = {r["k"]: r["val"] for r in read_manifest(spark, root).collect()}
    assert got[7] == -7.0 and len(got) == 100


def test_rollback_sharded_is_pure_metadata_and_vacuum_gc_segments(
    spark, tmp_path, monkeypatch
):
    """Rollback re-references the target's segments verbatim (zero data
    and zero segment IO); vacuum collects segments no retained version
    references — including crash/race orphans — and never touches shared
    ones."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        rollback_manifest,
    )

    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 80).repartition(8), root)  # v1
    _, m1 = _version_meta(spark, ml, root)
    segs1 = {s["name"] for s in m1["segments"]}
    publish_files(spark, _kv_df(spark, 40).repartition(8), root)  # v2
    assert rollback_manifest(spark, root, to_version=1) == 3
    _, m3 = _version_meta(spark, ml, root)
    assert {s["name"] for s in m3["segments"]} == segs1  # shared, not copied
    assert read_manifest(spark, root).count() == 80
    # orphan a segment the way a crashed/raced commit would
    fs = _HadoopFS(spark, root)
    orphan = ml._write_segment(fs, root, [{"name": "ghost", "bytes": 0}])
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)  # retains v2, v3
    assert res["segments_deleted"] == 1  # the orphan; v1's segs shared by v3
    assert not fs.exists(f"{ml._seg_dir(root)}/{orphan['name']}")
    assert read_manifest(spark, root).count() == 80
    assert read_manifest(spark, root, version=2).count() == 40


def test_stats_live_in_sidecars_not_manifest_json(spark, tmp_path):
    """Round-9 judge item 3: the manifest JSON carries only sidecar
    references; per-file stats are parquet, produced without a driver
    collect, and vacuumed with their versions."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _stats_dir,
        manifest_file_stats,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark, _ts_df(spark, 1, 5).repartitionByRange(4, "ts"), root,
        stats_cols=["ts"],
    )
    ents = manifest_files(spark, root)
    assert all("stats" not in e and "nulls" not in e for e in ents)
    sidecars = {e["stats_file"] for e in ents}
    assert len(sidecars) == 1
    st = manifest_file_stats(spark, root)
    assert len(st) == len(ents)
    assert all("ts" in v["stats"] for v in st.values())
    # replace the table, vacuum v1 away -> its sidecar is collected
    publish_files(spark, _ts_df(spark, 6, 7), root, stats_cols=["ts"])
    res = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0.0)
    assert res["stats_deleted"] >= 1
    fs = _HadoopFS(spark, root)
    left = set(fs.child_names(_stats_dir(root)))
    assert sidecars & left == set()
    # current version's stats still resolve
    assert manifest_file_stats(spark, root)


# ---------------------------------------------------------------------------
# round-9: optimistic concurrency (X112h)
# ---------------------------------------------------------------------------


def test_commit_refuses_lost_update(spark, tmp_path):
    """A commit derived from a version that is no longer the latest must
    raise instead of silently clobbering the interleaved writer (the
    Iceberg optimistic-concurrency check)."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 3), root)          # v1
    v1_files = manifest_files(spark, root, version=1)
    publish_files(spark, _ts_df(spark, 3, 5), root)          # v2 (the race winner)
    with pytest.raises(ml.ManifestConflictError, match="moved to v2"):
        ml._commit(
            spark, root, v1_files, "parquet", expected_prev=1
        )
    # loser's refusal left the winner's state fully intact
    assert read_manifest(spark, root).count() == 20
    # and a writer that read v2 commits fine
    ml._commit(spark, root, v1_files, "parquet", expected_prev=2)
    assert read_manifest(spark, root).count() == 20


def test_commit_same_version_race_is_create_exclusive(spark, tmp_path):
    """Two writers racing to the SAME version number: the loser's
    create-exclusive write fails -> ManifestConflictError; the winner's
    committed JSON is never overwritten."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 3), root)          # v1
    fs = _HadoopFS(spark, root)

    def stale_latest(fs_, root_):
        # both writers observed the table BEFORE either wrote: v1 is
        # the latest committed and highest known version they saw
        # (r20: the commit path reads state via _latest_committed, so
        # that is where a racer's stale view lives now)
        return 1, 1

    # writer A lands v2 for real
    winner_body = '{"fmt":"parquet","files":[],"schema":null}'
    fs.write_text_exclusive(f"{_mf_dir(root)}/v00000002.json", winner_body)
    fs.write_text_exclusive(
        f"{_mf_dir(root)}/v00000002.json._COMMITTED", "v00000002.json"
    )
    # writer B still believes v1 is latest -> targets v2 -> must lose
    import pytest as _pytest

    orig = ml._latest_committed
    ml._latest_committed = stale_latest
    try:
        with _pytest.raises(ml.ManifestConflictError, match="commit race"):
            ml._commit(spark, root, [], "parquet", expected_prev=1)
    finally:
        ml._latest_committed = orig
    # the winner's manifest body survived untouched
    assert fs.read_text(f"{_mf_dir(root)}/v00000002.json") == winner_body


def test_orphan_marker_slot_commits_instead_of_raising(
    spark, tmp_path, caplog
):
    """A ``._COMMITTED`` marker whose version JSON was deleted out of band
    is an orphan: the next writer's exclusive JSON create for that slot
    succeeds, so no other writer holds it. The commit must succeed and
    report the version (the marker already makes it visible) rather than
    raise a lost race for a version that reads as committed — a caller
    told it lost would retry and apply its data twice."""
    import logging

    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        describe_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 3), root)  # v1
    fs = _HadoopFS(spark, root)
    fs.write_text(
        f"{_mf_dir(root)}/v00000002.json._COMMITTED", "v00000002.json"
    )
    with caplog.at_level(logging.WARNING):
        v = publish_files(spark, _ts_df(spark, 5, 6), root)
    assert v == 2
    assert any("orphan commit marker" in r.message for r in caplog.records)
    assert describe_manifest(spark, root)["committed_versions"] == [1, 2]
    assert read_manifest(spark, root).count() == 10
    # no gap: the next commit lands on v3 and the pointer resolves it
    assert publish_files(spark, _ts_df(spark, 7, 8), root) == 3
    assert describe_manifest(spark, root)["version"] == 3


def test_orphan_marker_cannot_publish_a_staged_wap_version(
    spark, tmp_path, caplog
):
    """A WAP staging lands on a slot whose orphan ``._COMMITTED`` marker
    (JSON deleted out of band) would make the un-audited version visible
    the moment its JSON is written, and a failing audit would then delete
    that JSON from under the marker. The staging removes the orphan
    first: the audit's readers see only v1, and a refused audit leaves
    the table readable exactly as it was."""
    import logging

    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        AuditFailedError,
        describe_manifest,
        publish_files_wap,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 3), root)  # v1
    before = read_manifest(spark, root).count()
    _HadoopFS(spark, root).write_text(
        f"{_mf_dir(root)}/v00000002.json._COMMITTED", "v00000002.json"
    )
    seen = []

    def audit(df):
        seen.append(read_manifest(spark, root).count())
        return False

    with caplog.at_level(logging.WARNING):
        with pytest.raises(AuditFailedError):
            publish_files_wap(spark, _ts_df(spark, 5, 6), root, audit=audit)
    assert any("orphan commit marker" in r.message for r in caplog.records)
    assert seen == [before]
    assert describe_manifest(spark, root)["committed_versions"] == [1]
    assert read_manifest(spark, root).count() == before
    # a passing audit then promotes normally
    v = publish_files_wap(spark, _ts_df(spark, 5, 6), root, audit=bool)
    assert describe_manifest(spark, root)["committed_versions"] == [1, v]
    assert read_manifest(spark, root).count() > before


def test_conflict_orphans_are_vacuumed(spark, tmp_path):
    """A refused commit leaves only staged data files; vacuum collects
    them without touching the committed state."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 3), root)
    # stage files as a losing writer would, then fail the commit
    entries = ml._stage_files(
        spark, _ts_df(spark, 5, 7), root, "parquet", None
    )
    with pytest.raises(ml.ManifestConflictError):
        ml._commit(
            spark, root, entries, "parquet", expected_prev=None
        )
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0.0)
    assert res["files_deleted"] >= len(entries)
    assert read_manifest(spark, root).count() == 20


# ---------------------------------------------------------------------------
# round-10: distributed prune planning, sidecar consolidation, commit
# arbitration hardening
# ---------------------------------------------------------------------------


def test_pruned_read_never_collects_stats_frame(spark, tmp_path):
    """Prune planning must run Spark-side: _load_stats (the full
    driver-resident stats materialization) is never called by the pruned
    reader, and the verdicts collected are ONLY the skipped names (no
    inline stats on a modern table)."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 9)
    publish_files(
        spark, df.repartitionByRange(8, "ts"), root, stats_cols=["ts"]
    )
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 5)

    def boom(*a, **k):
        raise AssertionError("pruned read collected the full stats frame")

    orig = ml._load_stats
    ml._load_stats = boom
    try:
        pruned = read_manifest_pruned(spark, root, "ts", lo=lo, hi=hi)
        full = read_manifest(spark, root)
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        want = full.filter(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
        )
        assert pruned.exceptAll(want).count() == 0
        assert want.exceptAll(pruned).count() == 0
        # planning collects only skip verdicts, all True
        fs = ml._HadoopFS(spark, root)
        _, meta = ml._resolve_manifest(fs, root, None)
        ents = ml._manifest_entries(fs, root, meta)
        klo, khi = ml._stat_key(lo), ml._stat_key(hi)
        dec = ml._sidecar_skip_decisions(
            spark, root, ents, "ts", klo, khi, set()
        )
        assert dec and all(dec.values())
        assert len(dec) < len(ents)
    finally:
        ml._load_stats = orig


def test_pruned_read_numeric_and_null_stats_distributed(spark, tmp_path):
    """Numeric-kind pruning and all-NULL stats through the Spark-side
    planner: NULL min/max never prunes; numeric ranges do."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    rows = [(i, float(i)) for i in range(100)] + [(1000 + i, None) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, v double")
    publish_files(
        spark,
        df.repartitionByRange(5, "k"),
        root,
        stats_cols=["k", "v"],
    )
    pruned = read_manifest_pruned(spark, root, "k", lo=10, hi=30)
    full = read_manifest(spark, root)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = full.filter((F.col("k") >= 10) & (F.col("k") <= 30))
    assert sorted(r["k"] for r in pruned.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    # the all-NULL-v file must be conservatively read on a v-prune
    pv = read_manifest_pruned(spark, root, "v", lo=5.0, hi=6.0)
    assert pv.count() == 2  # 5.0 and 6.0


def test_consolidate_stats_sidecars(spark, tmp_path):
    """Append-heavy tables accrete one sidecar per append; consolidation
    rewrites the live stats rows into ONE sidecar as a pure metadata
    commit, pruning still works, and vacuum collects the orphans."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        consolidate_stats_sidecars,
        manifest_file_stats,
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 2), root, stats_cols=["ts"])
    for d in range(2, 8):
        append_files(spark, _ts_df(spark, d, d + 1), root, stats_cols=["ts"])
    before = manifest_file_stats(spark, root)
    # below threshold -> no-op, no commit
    res = consolidate_stats_sidecars(spark, root, max_sidecars=100)
    assert res == {"sidecars_before": 0, "version": 0}
    res = consolidate_stats_sidecars(spark, root, max_sidecars=3)
    assert res["sidecars_before"] == 7 and res["version"] == 8
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml

    fs = ml._HadoopFS(spark, root)
    _, meta = ml._resolve_manifest(fs, root, None)
    assert len({e["stats_file"] for e in meta["files"]}) == 1
    # stats identical through consolidation
    assert manifest_file_stats(spark, root) == before
    # pruning still skips files
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 4)
    pruned = read_manifest_pruned(spark, root, "ts", lo=lo, hi=hi)
    assert len(pruned.inputFiles()) < len(read_manifest(spark, root).inputFiles())
    assert pruned.count() == 10  # day 3's rows (each day sits at 12:00)
    # orphaned sidecars are vacuumed; pruning survives
    res = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0.0)
    assert res["stats_deleted"] == 7
    assert read_manifest_pruned(spark, root, "ts", lo=lo, hi=hi).count() == 10


def test_append_race_loser_retries_cleanly(spark, tmp_path):
    """Two writers appending via the PUBLIC API: the stale one surfaces
    ManifestConflictError, retries against the fresh state, and both
    writers' rows land exactly once."""
    import stock_market_data_pipeline_spark.sinks.manifest_lake as ml
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _ts_df(spark, 1, 2), root)          # v1, 10 rows
    # r20: reads/commits derive state via _latest_committed (pointer
    # fast path) — a racer's stale view lives there now
    real_latest = ml._latest_committed

    def stale_latest(fs_, root_):
        return 1, 1

    # writer A lands v2
    append_files(spark, _ts_df(spark, 2, 3), root)
    # writer B read v1 before A committed -> conflict
    ml._latest_committed = stale_latest
    try:
        with pytest.raises(ml.ManifestConflictError):
            append_files(spark, _ts_df(spark, 3, 4), root)
    finally:
        ml._latest_committed = real_latest
    # retry against the new state succeeds; all three days present once
    append_files(spark, _ts_df(spark, 3, 4), root)
    got = read_manifest(spark, root)
    assert got.count() == 30
    assert got.select("k").distinct().count() == 30


def test_exclusive_write_io_fault_is_not_a_conflict(spark, tmp_path):
    """A transient create failure that is NOT an already-exists loss must
    surface as itself, never as FileExistsError (which _commit would
    misdiagnose as a commit race — round-9 advice)."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    hfs = _HadoopFS(spark, root)

    class FlakyFS:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def create(self, path, overwrite):
            raise RuntimeError("simulated transient IO fault")

    hfs.fs = FlakyFS(hfs.fs)
    with pytest.raises(RuntimeError, match="transient IO fault"):
        hfs.write_text_exclusive(f"{root}/marker", "x")


def test_schema_evolution_append_read_and_null_backfill(spark, tmp_path):
    """X118: an append with a NEW column evolves the recorded schema
    (union-by-name); reading the table projects old files with NULL in
    the added column and preserves values in the new files. A later
    append MISSING an existing column still works (its rows read NULL
    there), and the recorded schema keeps every column."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
    )

    root = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    publish_files(spark, v1, root)
    v2 = spark.createDataFrame(
        [(3, "c", 30.0), (4, "d", 40.0)], "k long, v string, score double"
    )
    append_files(spark, v2, root)
    got = {r["k"]: (r["v"], r["score"]) for r in read_manifest(spark, root).collect()}
    assert got == {1: ("a", None), 2: ("b", None),
                   3: ("c", 30.0), 4: ("d", 40.0)}
    assert read_manifest(spark, root).columns == ["k", "v", "score"]
    # append that OMITS v: rows surface with v NULL, schema unchanged
    v3 = spark.createDataFrame([(5, 50.0)], "k long, score double")
    append_files(spark, v3, root)
    out = read_manifest(spark, root)
    assert out.columns == ["k", "v", "score"]
    r5 = {r["k"]: (r["v"], r["score"]) for r in out.collect()}[5]
    assert r5 == (None, 50.0)


def test_schema_evolution_type_conflict_raises(spark, tmp_path):
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), root
    )
    bad = spark.createDataFrame([(2, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="type conflict"):
        append_files(spark, bad, root)
    # nothing staged, nothing committed
    assert read_manifest(spark, root).count() == 1


def test_compaction_preserves_evolved_column(spark, tmp_path):
    """Regression for the first-footer hazard: compacting a table whose
    small files DISAGREE on columns must read them through the recorded
    union schema — a bare load(paths) takes one footer's schema and would
    silently drop the evolved column's values from the packed file,
    making the loss permanent."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        compact_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(4)],
                              "k long, v string").repartition(2),
        root,
    )
    append_files(
        spark,
        spark.createDataFrame([(i, f"v{i}", float(i)) for i in range(4, 8)],
                              "k long, v string, score double").repartition(2),
        root,
    )
    res = compact_manifest(spark, root)  # everything is small -> all packed
    assert res["compacted"] == 4
    got = {r["k"]: r["score"] for r in read_manifest(spark, root).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None,
                   4: 4.0, 5: 5.0, 6: 6.0, 7: 7.0}


def test_delete_keys_manifest_bucket_scoped_and_idempotent(spark, tmp_path):
    """X124: the delete rewrites ONLY buckets holding doomed keys (other
    files carried by identical physical name), replays are no-ops via
    txn watermarks, and an unbucketed table is rejected loudly."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        delete_keys_manifest,
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(200)], "k long, v string, seq long"
    )
    merge_upsert_manifest(spark, base, root, keys=["k"], order_col="seq",
                          n_buckets=16)
    before = {e["name"] for e in manifest_files(spark, root)}
    dk = spark.createDataFrame([(7,), (8,)], "k long")
    res = delete_keys_manifest(spark, dk, root, ["k"], 16, txn_id=("del", 1))
    assert 1 <= res["touched_buckets"] <= 2
    after = {e["name"] for e in manifest_files(spark, root)}
    assert len(after & before) == res["carried_files"] >= 10
    left = {r["k"] for r in read_manifest(spark, root).collect()}
    assert left == set(range(200)) - {7, 8}
    # replay: same txn -> no-op, same version
    res2 = delete_keys_manifest(spark, dk, root, ["k"], 16, txn_id=("del", 1))
    assert res2["rewritten_files"] == 0 and res2["version"] == res["version"]
    # layout mismatch raises
    with pytest.raises(ValueError, match="bucket"):
        delete_keys_manifest(spark, dk, root, ["k"], 8)
    # unbucketed table raises
    root2 = str(tmp_path / "u")
    publish_files(spark, base.drop("seq"), root2)
    with pytest.raises(ValueError, match="bucket"):
        delete_keys_manifest(spark, dk, root2, ["k"], 16)


def test_bloom_index_skips_miss_and_reads_unindexed_conservatively(
    spark, tmp_path
):
    """X126: a key that was never written probes to (almost surely) zero
    files; files appended AFTER the index build carry no bloom rows and
    must be read conservatively so their rows are never lost."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_bloom_lookup,
    )

    root = str(tmp_path / "t")
    df = spark.range(2_000).selectExpr("id AS k", "id * 3 AS v")
    publish_files(spark, df.repartition(8, "k"), root)
    add_bloom_index(spark, root, "k")
    # present key: few files open, exact rows back
    hit, st = read_manifest_bloom_lookup(spark, root, 1234)
    assert st["files_read"] < st["files_total"] == 8
    assert [(r["k"], r["v"]) for r in hit.collect()] == [(1234, 3702)]
    # absent key: skip everything (m=8192, k=3 -> fpp ~ 1e-4 per file)
    miss, st2 = read_manifest_bloom_lookup(spark, root, 999_999)
    assert miss.count() == 0
    assert st2["files_read"] <= 1  # tolerate a lone false positive
    # an append CARRIES the version-scoped bloom meta (round-14: silent
    # de-indexing was the round-13 judge item 3); the appended file has
    # no bloom rows, so the reader opens it conservatively and still
    # finds the new row — degraded skipping, never lost rows
    append_files(
        spark, spark.createDataFrame([(999_999, 7)], "k long, v long"), root
    )
    found, st3 = read_manifest_bloom_lookup(spark, root, 999_999)
    assert [(r["k"], r["v"]) for r in found.collect()] == [(999_999, 7)]
    assert st3["files_read"] >= 1  # at least the unindexed file opened
    # reindex_bloom rebuilds with the recorded params: the new file is
    # covered and the lookup tightens again
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        reindex_bloom,
    )
    reindex_bloom(spark, root)
    found2, st4 = read_manifest_bloom_lookup(spark, root, 999_999)
    assert [(r["k"], r["v"]) for r in found2.collect()] == [(999_999, 7)]
    assert st4["files_read"] <= 2
    # a full replace shares no files with the index: publish drops it
    # and the lookup fails loudly instead of consulting a dead sidecar
    publish_files(spark, df.repartition(2, "k"), root)
    with pytest.raises(ValueError, match="no bloom index"):
        read_manifest_bloom_lookup(spark, root, 1234)
    with pytest.raises(ValueError, match="no bloom index to rebuild"):
        reindex_bloom(spark, root)


def test_bloom_index_on_sharded_manifest_lists_files_once(
    spark, tmp_path, monkeypatch
):
    """Round-13 advice (high): on a SEGMENTED table, add_bloom_index must
    not pass expanded entries loose alongside reuse_segments — the commit
    would list every segment-resident file twice and reads would silently
    double every row. The index commit is pure metadata: prior segments
    reused by name, rows exactly once, and the lookup still skips."""
    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    df = spark.range(400).selectExpr("id AS k", "id * 2 AS v")
    publish_files(spark, df.repartition(8, "k"), root)
    _, m1 = _version_meta(spark, ml, root)
    assert len(m1["segments"]) == 2  # genuinely sharded
    segs1 = {s["name"] for s in m1["segments"]}
    ml.add_bloom_index(spark, root, "k")
    _, m2 = _version_meta(spark, ml, root)
    names = [e["name"] for e in manifest_files(spark, root)]
    assert len(names) == len(set(names)) == 8  # each file exactly once
    assert {s["name"] for s in m2["segments"]} == segs1  # reused verbatim
    assert read_manifest(spark, root).count() == 400  # 800 pre-fix
    hit, st = ml.read_manifest_bloom_lookup(spark, root, 123)
    assert st["files_read"] < st["files_total"] == 8
    assert [(r["k"], r["v"]) for r in hit.collect()] == [(123, 246)]


def test_vacuum_keeps_bloom_sidecar_of_retained_versions(spark, tmp_path):
    """Round-13 advice (high): the bloom sidecar is version-scoped meta,
    not an entry stats_file, so vacuum's keep-set must include it — a
    routine vacuum otherwise deletes the sidecar a retained committed
    version still serves lookups from."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_bloom_lookup,
    )

    root = str(tmp_path / "t")
    df = spark.range(500).selectExpr("id AS k", "id * 2 AS v")
    publish_files(spark, df.repartition(4, "k"), root)
    add_bloom_index(spark, root, "k")
    res = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0)
    assert res["manifests_deleted"] == 1  # v1 retired, v2 (indexed) kept
    hit, st = read_manifest_bloom_lookup(spark, root, 77)
    assert [(r["k"], r["v"]) for r in hit.collect()] == [(77, 154)]
    assert st["files_read"] < st["files_total"] == 4


def test_bloom_lookup_survives_probe_position_collision(spark, tmp_path):
    """Round-13 advice (medium): when two of a value's k hash positions
    collide (guaranteed for some values at small m), the probe has < k
    DISTINCT positions and no file could ever satisfy n_hit == k — files
    holding the value were silently skipped. The reader must require all
    DISTINCT probe positions instead."""
    import hashlib

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_bloom_lookup,
    )

    m, k, seed = 64, 3, "bf"

    def positions(v):
        return [
            int(
                hashlib.md5(f"{seed}{j}:{v}".encode()).hexdigest()[:8], 16
            ) % m
            for j in range(k)
        ]

    collider = next(
        v for v in range(10_000) if len(set(positions(v))) < k
    )
    rows = sorted({collider} | set(range(200)))
    df = spark.createDataFrame([(v, v * 2) for v in rows], "k long, v long")
    root = str(tmp_path / "t")
    publish_files(spark, df.repartition(4, "k"), root)
    add_bloom_index(spark, root, "k", m=m, k=k, seed=seed)
    hit, st = read_manifest_bloom_lookup(spark, root, collider)
    assert [(r["k"], r["v"]) for r in hit.collect()] == [
        (collider, collider * 2)
    ]  # pre-fix: [] — every file excluded, rows silently lost


def test_bloom_survives_maintenance_and_sharded_composition(
    spark, tmp_path, monkeypatch
):
    """Round-13 judge items 3+4: maintenance commits CARRY the bloom
    index instead of silently de-indexing the table; rewritten/new files
    are unindexed and read conservatively (exact results, degraded
    skipping); reindex_bloom restores full skipping — composed with
    X112j manifest segments and stats-sidecar consolidation on an
    appended table, audited via inputFiles."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        consolidate_stats_sidecars,
        merge_upsert_manifest,
        reindex_bloom,
    )

    ml = _shrink_shard_consts(monkeypatch)
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(300)],
        "k long, seq int, val double",
    )
    merge_upsert_manifest(
        spark, base.repartition(4), root, keys=["k"], order_col="seq",
        n_buckets=8,
    )
    ml.add_bloom_index(spark, root, "k")
    _, meta = _version_meta(spark, ml, root)
    assert meta["segments"]  # sharded under the shrunk thresholds
    # append: carries the index; new file conservative
    append_files(
        spark,
        spark.createDataFrame([(9_999, 1, 0.5)], base.schema),
        root,
    )
    # keyed merge rewrites ONE bucket; its new files are unindexed
    merge_upsert_manifest(
        spark,
        spark.createDataFrame([(42, 2, -1.0)], base.schema),
        root, keys=["k"], order_col="seq", n_buckets=8,
    )
    # sidecar consolidation is a pure-metadata rewrite; index must ride
    consolidate_stats_sidecars(spark, root, max_sidecars=1)
    _, meta = _version_meta(spark, ml, root)
    assert ml._bloom_indexes(meta), "maintenance dropped the bloom index"
    # conservative-correctness: updated key resolves to the merged row
    hit, st = ml.read_manifest_bloom_lookup(spark, root, 42)
    assert [(r["k"], r["seq"], r["val"]) for r in hit.collect()] == [
        (42, 2, -1.0)
    ]
    assert len(hit.inputFiles()) <= st["files_read"] < st["files_total"]
    # appended row found through the conservative path
    hit2, _ = ml.read_manifest_bloom_lookup(spark, root, 9_999)
    assert hit2.count() == 1
    # reindex restores tight skipping over the full current file set
    reindex_bloom(spark, root)
    hit3, st3 = ml.read_manifest_bloom_lookup(spark, root, 42)
    assert [(r["k"], r["seq"]) for r in hit3.collect()] == [(42, 2)]
    assert st3["files_read"] < st3["files_total"]
    assert len(hit3.inputFiles()) == st3["files_read"]


def test_replace_where_boundary_discipline_and_content(spark, tmp_path):
    """X128 replaceWhere: files disjoint from the predicate range carry
    BY REFERENCE (identical physical names), files entirely inside it
    drop with zero IO, straddlers rewrite filtered; incoming rows land in
    their place and the final contents equal the predicate-spliced
    expectation."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        replace_where_manifest,
    )

    root = str(tmp_path / "t")
    df = _ts_df(spark, 1, 9)  # days 1..8, 10 rows each
    publish_files(
        spark, df.repartitionByRange(8, "ts"), root, stats_cols=["ts"]
    )
    before = {e["name"] for e in manifest_files(spark, root)}
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 4, 23, 59)
    incoming = spark.createDataFrame(
        [(90_001, "2026-01-03 06:00:00"), (90_002, "2026-01-04 18:00:00")],
        "k long, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    res = replace_where_manifest(spark, incoming, root, "ts", lo, hi)
    assert res["carried"] == 6 and res["dropped"] + res["rewritten"] == 2
    after = {e["name"] for e in manifest_files(spark, root)}
    assert len(before & after) == 6  # disjoint files shared by reference
    rows = read_manifest(spark, root)
    in_range = rows.filter(F.col("ts").between(lo, hi))
    assert {r["k"] for r in in_range.collect()} == {90_001, 90_002}
    out_of_range = rows.filter(~F.col("ts").between(lo, hi))
    assert out_of_range.count() == 60  # days 1,2,5,6,7,8 intact
    # time travel: v1 still shows the replaced rows
    assert read_manifest(spark, root, version=1).count() == 80


def test_replace_where_rejects_out_of_predicate_rows(spark, tmp_path):
    """Delta's replaceWhere constraint: every incoming row must satisfy
    the predicate (NULL does not) — checked before any staging IO."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        replace_where_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark,
        _ts_df(spark, 1, 5).repartitionByRange(4, "ts"),
        root,
        stats_cols=["ts"],
    )
    lo, hi = dt.datetime(2026, 1, 2), dt.datetime(2026, 1, 3)
    stray = spark.createDataFrame(
        [(1, "2026-01-08 00:00:00")], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="outside"):
        replace_where_manifest(spark, stray, root, "ts", lo, hi)
    nullrow = spark.createDataFrame(
        [(1, None)], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="outside"):
        replace_where_manifest(spark, nullrow, root, "ts", lo, hi)
    assert read_manifest(spark, root).count() == 40  # untouched


def test_replace_where_keeps_null_rows_and_is_idempotent(spark, tmp_path):
    """NULL predicate-column rows never match a range predicate: a file
    entirely inside the range that holds NULL rows rewrites down to
    them instead of dropping. txn_id replays are no-ops."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        replace_where_manifest,
    )

    root = str(tmp_path / "t")
    day2 = _ts_df(spark, 2, 3)
    nulls = spark.createDataFrame(
        [(7_001, None), (7_002, None)], "k long, ts timestamp"
    )
    publish_files(
        spark,
        day2.unionByName(nulls).coalesce(1),  # ONE file: day-2 + NULLs
        root,
        stats_cols=["ts"],
    )
    lo, hi = dt.datetime(2026, 1, 2), dt.datetime(2026, 1, 2, 23, 59)
    incoming = spark.createDataFrame(
        [(8_001, "2026-01-02 12:00:00")], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    res = replace_where_manifest(
        spark, incoming, root, "ts", lo, hi, txn_id=("app", 1)
    )
    assert res["rewritten"] == 1 and res["dropped"] == 0
    rows = read_manifest(spark, root)
    assert {r["k"] for r in rows.collect()} == {7_001, 7_002, 8_001}
    # replay: same txn id -> no-op, contents unchanged
    res2 = replace_where_manifest(
        spark, incoming, root, "ts", lo, hi, txn_id=("app", 1)
    )
    assert res2["rewritten"] == 0 and res2["inserted_files"] == 0
    assert read_manifest(spark, root).count() == 3


def test_wap_publish_gates_bad_data_and_promotes_good(spark, tmp_path):
    """X129 write-audit-publish: a failing audit leaves the table
    byte-identical (the staged version never gets a marker — no reader
    can ever observe un-audited rows), its staged files are vacuumable
    orphans; a passing audit promotes atomically."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        AuditFailedError,
        publish_files_wap,
        read_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 100).repartition(2), root)

    # audit sees the CANDIDATE (old + staged rows), not the live table
    seen = {}

    def audit_pass(cand):
        seen["n"] = cand.count()
        seen["live_during_audit"] = read_manifest(spark, root).count()
        return cand.filter(F.col("k").isNull()).count() == 0

    v = publish_files_wap(
        spark,
        _kv_df(spark, 10).withColumn("k", F.col("k") + 1_000),
        root,
        audit=audit_pass,
    )
    assert v == 2
    assert seen["n"] == 110
    assert seen["live_during_audit"] == 100  # staged rows were invisible
    assert read_manifest(spark, root).count() == 110

    # failing audit: table unchanged, orphans vacuumable
    bad = spark.createDataFrame(
        [(None, 1, 0.5)], "k long, seq int, val double"
    )
    with pytest.raises(AuditFailedError, match="returned false"):
        publish_files_wap(
            spark, bad, root,
            audit=lambda c: c.filter(F.col("k").isNull()).count() == 0,
        )
    assert read_manifest(spark, root).count() == 110
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0)
    assert res["files_deleted"] >= 1  # the abandoned staged file
    assert read_manifest(spark, root).count() == 110

    # raising audit == failing audit
    def audit_boom(cand):
        raise RuntimeError("quality service down")

    with pytest.raises(AuditFailedError, match="quality service down"):
        publish_files_wap(spark, _kv_df(spark, 5), root, audit=audit_boom)
    assert read_manifest(spark, root).count() == 110


def test_wap_promote_refuses_when_table_moved_during_audit(spark, tmp_path):
    """A writer that commits while the audit runs makes the candidate
    stale (it was derived from the pre-commit state): promotion must
    raise ManifestConflictError instead of burying that writer's
    version."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        ManifestConflictError,
        publish_files_wap,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 50).repartition(2), root)

    def audit_with_interleaved_writer(cand):
        append_files(
            spark,
            spark.createDataFrame([(9_999, 1, 0.0)],
                                  "k long, seq int, val double"),
            root,
        )
        return True

    with pytest.raises(ManifestConflictError, match="while the audit"):
        publish_files_wap(
            spark,
            _kv_df(spark, 5).withColumn("k", F.col("k") + 500),
            root,
            audit=audit_with_interleaved_writer,
        )
    # the interleaved writer's commit survives; the WAP candidate did not
    rows = read_manifest(spark, root)
    assert rows.count() == 51
    assert rows.filter(F.col("k") == 9_999).count() == 1


def test_incremental_read_appends_only_and_rewrite_guard(spark, tmp_path):
    """X130 incremental read: rows added between two versions come back
    exactly once (file-identity diff, metadata-only planning); a rewrite
    between the versions — here a compaction — breaks the append-only
    contract and must raise instead of double-counting."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        compact_manifest,
        read_manifest_incremental,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 50).repartition(2), root)      # v1
    append_files(
        spark, _kv_df(spark, 10).withColumn("k", F.col("k") + 100), root
    )                                                                 # v2
    append_files(
        spark, _kv_df(spark, 10).withColumn("k", F.col("k") + 200), root
    )                                                                 # v3
    inc = read_manifest_incremental(spark, root, 1)  # v1 -> latest
    ks = {r["k"] for r in inc.collect()}
    assert ks == set(range(100, 110)) | set(range(200, 210))
    inc12 = read_manifest_incremental(spark, root, 1, 2)
    assert {r["k"] for r in inc12.collect()} == set(range(100, 110))
    # same-version incremental = empty, still typed
    assert read_manifest_incremental(spark, root, 3, 3).count() == 0
    assert read_manifest_incremental(spark, root, 3, 3).columns == [
        "k", "seq", "val"
    ]
    # compaction rewrites files v1 referenced -> append-only guard trips
    compact_manifest(spark, root)                                     # v4
    with pytest.raises(ValueError, match="not append-only"):
        read_manifest_incremental(spark, root, 1)
    # a post-rewrite watermark works again
    append_files(
        spark, _kv_df(spark, 5).withColumn("k", F.col("k") + 300), root
    )                                                                 # v5
    inc45 = read_manifest_incremental(spark, root, 4)
    assert {r["k"] for r in inc45.collect()} == set(range(300, 305))


def test_bloom_lookup_in_list_one_sidecar_scan(spark, tmp_path):
    """X131 batch point lookup: col IN (values) opens the UNION of
    per-value bloom hits (+unindexed conservatively) with exact results;
    an absent value adds (almost surely) nothing to the opened set."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_bloom_lookup_in,
    )

    root = str(tmp_path / "t")
    df = spark.range(2_000).selectExpr("id AS k", "id * 3 AS v")
    publish_files(spark, df.repartition(8, "k"), root)
    add_bloom_index(spark, root, "k")
    hit, st = read_manifest_bloom_lookup_in(
        spark, root, [17, 1_234, 999_999]
    )
    assert {(r["k"], r["v"]) for r in hit.collect()} == {
        (17, 51), (1_234, 3_702)
    }
    assert st["files_read"] < st["files_total"] == 8
    with pytest.raises(ValueError, match="1 value"):
        read_manifest_bloom_lookup_in(spark, root, [])
    # an unindexed appended file is read conservatively and its row found
    append_files(
        spark, spark.createDataFrame([(999_999, 7)], "k long, v long"), root
    )
    hit2, st2 = read_manifest_bloom_lookup_in(spark, root, [999_999, 17])
    assert {(r["k"], r["v"]) for r in hit2.collect()} == {
        (999_999, 7), (17, 51)
    }
    assert st2["files_read"] <= st["files_read"] + 1


def test_wap_promote_refuses_vacuumed_staged_version(spark, tmp_path):
    """Round-14 review: a vacuum running past its grace window during a
    long audit collects the staged (uncommitted) version; promotion must
    refuse with the conflict signal instead of committing a marker for a
    deleted JSON (which would wedge every later read)."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        ManifestConflictError,
        publish_files_wap,
    )

    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 30).repartition(2), root)

    def audit_with_overdue_vacuum(cand):
        # grace_seconds=0 models an audit that outlived the grace window
        vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0)
        return True

    with pytest.raises(ManifestConflictError, match="vanished"):
        publish_files_wap(
            spark, _kv_df(spark, 5).withColumn("k", F.col("k") + 100),
            root, audit=audit_with_overdue_vacuum,
        )
    # table intact and readable
    assert read_manifest(spark, root).count() == 30


def test_commit_and_promote_share_table_level_lock_key(spark, tmp_path):
    """Round-14 review: a WAP promotion's marker lands at a path no plain
    commit contends on, so create-exclusive alone can never arbitrate
    promote-vs-commit. Pin the protocol: BOTH _commit and
    _promote_manifest wrap their [check -> write] span in a hold of the
    SAME table-level key (the manifest dir), so any lease adapter
    serializes them."""
    from stock_market_data_pipeline_spark.sinks.lake import (
        NoOpCommitLock,
        set_commit_lock,
    )
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        publish_files_wap,
        _mf_dir,
    )

    held: list[str] = []

    class _Recording(NoOpCommitLock):
        def hold(self, key: str):
            held.append(key)
            return super().hold(key)

    root = str(tmp_path / "t")
    prev = set_commit_lock(_Recording())
    try:
        publish_files(spark, _kv_df(spark, 20).repartition(2), root)
        assert held.count(_mf_dir(root)) == 1  # plain commit holds it
        publish_files_wap(
            spark, _kv_df(spark, 5).withColumn("k", F.col("k") + 100),
            root, audit=lambda c: True,
        )
        # staging commit + promotion each hold the table key
        assert held.count(_mf_dir(root)) == 3
    finally:
        set_commit_lock(prev)


def test_bloom_lookup_casts_probe_to_indexed_dtype(spark, tmp_path):
    """Round-14 review: the index stores positions of the column's NATIVE
    string rendering ('17.0' for a DOUBLE column); an un-cast integer
    probe would render '17', hash elsewhere, and silently skip indexed
    files that DO contain the value. Probes must cast to the recorded
    column dtype first — filter(col == 17) matches 17.0, so the lookup
    must too."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_bloom_lookup,
        read_manifest_bloom_lookup_in,
    )

    root = str(tmp_path / "t")
    df = spark.range(1_000).selectExpr(
        "CAST(id AS DOUBLE) AS k", "id * 2 AS v"
    )
    publish_files(spark, df.repartition(4, "k"), root)
    add_bloom_index(spark, root, "k")
    hit, st = read_manifest_bloom_lookup(spark, root, 17)  # int probe
    assert [(r["k"], r["v"]) for r in hit.collect()] == [(17.0, 34)]
    assert st["files_read"] < st["files_total"] == 4
    hit2, st2 = read_manifest_bloom_lookup_in(spark, root, [17, 999])
    assert {(r["k"], r["v"]) for r in hit2.collect()} == {
        (17.0, 34), (999.0, 1998)
    }
    assert st2["files_read"] < st2["files_total"]


def test_stream_wap_gate_blocks_bad_batch_and_replays_exactly_once(
    spark, tmp_path
):
    """X132 quality-gated streaming ingest: a good micro-batch promotes
    through the WAP audit; a poisoned one fails the audit, STOPS the
    stream, and never becomes readable; after fixing the source, the
    restarted stream replays from the checkpoint — the already-promoted
    batch no-ops via its txn and the fixed batch commits — exactly-once
    contents end to end."""
    import time

    from stock_market_data_pipeline_spark.streaming.pipeline import (
        stream_wap_append_manifest,
    )

    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    good = spark.createDataFrame([(1, 10), (2, 20)], "k long, x long")
    good.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    poisoned = spark.createDataFrame([(None, 30), (4, 40)],
                                     "k long, x long")
    poisoned.coalesce(1).write.mode("append").parquet(src)

    audit = lambda cand: cand.filter(F.col("k").isNull()).count() == 0
    stream = (
        spark.readStream.schema("k long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_wap_append_manifest(
        stream, root, ckpt, audit=audit, trigger={"availableNow": True}
    )
    with pytest.raises(Exception, match="returned false"):
        q.awaitTermination(120)
    assert not q.isActive
    # batch 0 promoted; poisoned batch 1 never readable
    out = read_manifest(spark, root)
    assert {r["k"] for r in out.collect()} == {1, 2}

    # "fix upstream": gate out the poison in the stream itself, restart
    stream2 = (
        spark.readStream.schema("k long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .filter(F.col("k").isNotNull())
    )
    q2 = stream_wap_append_manifest(
        stream2, root, ckpt, audit=audit, trigger={"availableNow": True}
    )
    assert q2.awaitTermination(120)
    out2 = read_manifest(spark, root)
    # batch 0 replay no-ops (txn watermark); fixed batch 1 lands once
    assert {r["k"] for r in out2.collect()} == {1, 2, 4}
    assert out2.count() == 3


def test_compact_with_cluster_cols_tightens_pruning(spark, tmp_path):
    """X133 clustering compaction (OPTIMIZE ZORDER's 1-D shape): arrival-
    ordered micro-batch files all span the full ts range, so nothing
    prunes; compacting WITH cluster_cols range-sorts the rewrite, after
    which a day-range pruned read opens a small fraction of the files —
    same rows either way."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        compact_manifest,
        read_manifest_pruned,
    )

    root = str(tmp_path / "t")
    # 12 arrival-ordered files, EACH spanning all 8 days (k % interleave)
    df = _ts_df(spark, 1, 9, n_per_day=24)
    publish_files(spark, df.repartition(12), root, stats_cols=["ts"])
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 3, 23, 59)
    before = read_manifest_pruned(spark, root, "ts", lo, hi)
    rows_before = {r["k"] for r in before.collect()}
    assert len(before.inputFiles()) == 12  # every file overlaps the day
    # size the target so the pack produces ~4 files — multi-file output
    # is the point: pruning must skip ACROSS the clustered files
    total_bytes = sum(e["bytes"] for e in manifest_files(spark, root))
    res = compact_manifest(
        spark, root, target_file_bytes=max(total_bytes // 4, 2),
        cluster_cols=["ts"],
    )
    assert res["compacted"] == 12
    assert res["files_written"] >= 3
    assert res["clustered"] == res["files_written"]  # all output sorted
    after = read_manifest_pruned(spark, root, "ts", lo, hi)
    assert {r["k"] for r in after.collect()} == rows_before
    n_after_total = len(manifest_files(spark, root))
    assert len(after.inputFiles()) * 2 <= n_after_total
    # clustering maintenance on a table whose files are all right-sized
    # is an explicit no-op SIGNAL, not a silent one (r14 advice):
    # clustering only applies to the packed subset, and the caller sees
    # clustered == 0 when nothing was packed
    noop = compact_manifest(
        spark, root, target_file_bytes=2, cluster_cols=["ts"]
    )
    assert noop["files_written"] == 0 and noop["clustered"] == 0
    # bucketed tables own their layout: clustering there is refused
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )
    broot = str(tmp_path / "b")
    merge_upsert_manifest(
        spark, _kv_df(spark, 50), broot, keys=["k"], order_col="seq",
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="bucketed"):
        compact_manifest(spark, broot, cluster_cols=["k"])


def test_pruned_multi_intersects_ranges_and_bloom(spark, tmp_path):
    """X134 composed pruning: two AND-ed range predicates intersect their
    per-column survivor sets, and a bloom_value point lookup intersects
    further — files open only when they survive EVERY index; rows equal
    the plain conjunction filter."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        read_manifest_pruned,
        read_manifest_pruned_multi,
    )

    root = str(tmp_path / "t")
    # day-clustered files where k is correlated with the day
    # (k = day*1000 + i): both ts and k ranges are disjoint per file
    days = []
    for d in range(1, 9):
        days += [
            (d * 1000 + i, f"2026-01-{d:02d} 12:00:00")
            for i in range(30)
        ]
    df = spark.createDataFrame(days, "k long, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    publish_files(
        spark, df.repartitionByRange(8, "ts"), root,
        stats_cols=["ts", "k"],
    )
    add_bloom_index(spark, root, "k")
    lo, hi = dt.datetime(2026, 1, 3), dt.datetime(2026, 1, 3, 23, 59)

    # single-col pruning still routes through the shared helper
    one = read_manifest_pruned(spark, root, "ts", lo, hi)
    assert len(one.inputFiles()) == 1 and one.count() == 30

    # consistent two-col conjunction: same one file
    both = read_manifest_pruned_multi(
        spark, root, [("ts", lo, hi), ("k", 3000, 3999)]
    )
    assert len(both.inputFiles()) == 1 and both.count() == 30

    # CONTRADICTORY ranges (day 3 AND day-5 keys): intersection is empty
    # -> zero files open, empty result == the plain filter
    none = read_manifest_pruned_multi(
        spark, root, [("ts", lo, hi), ("k", 5000, 5999)]
    )
    assert none.count() == 0 and len(none.inputFiles()) == 0

    # range x bloom: day-3 window + point key opens at most the one file
    # that survives both and returns exactly the keyed row
    pt = read_manifest_pruned_multi(
        spark, root, [("ts", lo, hi)], bloom_value=3005
    )
    assert [(r["k"],) for r in pt.select("k").collect()] == [(3005,)]
    assert len(pt.inputFiles()) == 1

    # bloom_value on an unindexed table fails loudly
    root2 = str(tmp_path / "t2")
    publish_files(spark, df.repartition(2), root2, stats_cols=["ts"])
    with pytest.raises(ValueError, match="no bloom index"):
        read_manifest_pruned_multi(
            spark, root2, [("ts", lo, hi)], bloom_value=3005
        )


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    """X135a VACUUM DRY RUN: identical reference/grace walk and counts,
    zero deletions — then the real vacuum performs exactly what the dry
    run predicted."""
    root = str(tmp_path / "t")
    publish_files(spark, _kv_df(spark, 40).repartition(2), root)
    publish_files(spark, _kv_df(spark, 40).repartition(2), root)
    publish_files(spark, _kv_df(spark, 40).repartition(2), root)
    dry = vacuum_manifest(
        spark, root, keep_versions=1, grace_seconds=0, dry_run=True
    )
    assert dry["manifests_deleted"] == 2 and dry["files_deleted"] == 4
    # nothing actually deleted: every version still time-travelable
    for v in (1, 2, 3):
        assert read_manifest(spark, root, version=v).count() == 40
    real = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0)
    assert real == dry  # the dry run predicted the real deletions
    assert read_manifest(spark, root).count() == 40
    with pytest.raises(FileNotFoundError):
        read_manifest(spark, root, version=1)


def test_describe_manifest_metadata_only(spark, tmp_path, monkeypatch):
    """X135b DESCRIBE DETAIL: one metadata pass reports files/bytes,
    shard layout, stats columns and sidecar fan-out, bucketing, bloom
    params, and txns — correct on a sharded, indexed, bucketed table."""
    ml = _shrink_shard_consts(monkeypatch)
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        describe_manifest,
        merge_upsert_manifest,
    )

    root = str(tmp_path / "t")
    merge_upsert_manifest(
        spark,
        spark.createDataFrame(
            [(i, 1, float(i)) for i in range(200)],
            "k long, seq int, val double",
        ).repartition(4),
        root, keys=["k"], order_col="seq", n_buckets=8,
        txn_id=("app", 7),
    )
    ml.add_bloom_index(spark, root, "k", m=4096, k=3)
    d = describe_manifest(spark, root)
    assert d["version"] == 2 and d["committed_versions"] == [1, 2]
    assert d["n_files"] == 8 and d["total_bytes"] > 0
    assert d["n_segments"] >= 2 and d["inline_entries"] == 0  # sharded
    assert d["bucketing"] == {"keys": ["k"], "n_buckets": 8}
    assert d["bloom"] == {"col": "k", "m": 4096, "k": 3, "seed": "bf"}
    assert d["txns"] == {"app": 7}
    assert d["n_columns"] == 3
    assert d["n_stats_sidecars"] >= 0


def test_read_manifest_changes_cdf_between_versions(spark, tmp_path):
    """X136 change-data-feed: a keyed table takes a merge (updates +
    inserts) then a key delete; read_manifest_changes(v1, v3) recovers
    the exact row-level changelog — Delta CDF's change_type vocabulary —
    while PLANNING only the files removed-or-added between the versions
    (the file-set pruning that makes the feed O(changed files) at
    100 TB, never O(table))."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        delete_keys_manifest,
        manifest_files,
        merge_upsert_manifest,
        read_manifest_changes,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}", 0) for k in range(40)], "k long, v string, seq long"
    )
    merge_upsert_manifest(spark, base, root, keys=["k"], order_col="seq",
                          n_buckets=16)                              # v1
    v1_names = {e["name"] for e in manifest_files(spark, root)}
    # v2: update keys 0,1,2 + insert keys 100,101
    batch = spark.createDataFrame(
        [(k, f"new{k}", 1) for k in (0, 1, 2, 100, 101)],
        "k long, v string, seq long",
    )
    merge_upsert_manifest(spark, batch, root, keys=["k"], order_col="seq",
                          n_buckets=16)                              # v2
    # v3: delete keys 3, 4 and one updated key (1) — its v1->v3 story is
    # a plain delete whose preimage is the V1 value, not the v2 update
    delete_keys_manifest(
        spark, spark.createDataFrame([(3,), (4,), (1,)], "k long"),
        root, keys=["k"], n_buckets=16,
    )                                                                # v3
    v3_names = {e["name"] for e in manifest_files(spark, root)}

    cdf = read_manifest_changes(spark, root, 1, 3, keys=["k"])
    got = {(r["k"], r["v"], r["change_type"]) for r in cdf.collect()}
    expect = {
        (100, "new100", "insert"), (101, "new101", "insert"),
        (1, "v1", "delete"), (3, "v3", "delete"), (4, "v4", "delete"),
        (0, "v0", "update_preimage"), (0, "new0", "update_postimage"),
        (2, "v2", "update_preimage"), (2, "new2", "update_postimage"),
    }
    assert got == expect
    # seq participates in change detection by default (non-key column),
    # but the emitted columns are keys + compared columns + change_type
    assert cdf.columns == ["k", "v", "seq", "change_type"]
    # FILE-SET PRUNING: the plan reads only removed/added files, and at
    # least one bucket file is shared (carried by reference) and skipped
    changed = (v1_names - v3_names) | (v3_names - v1_names)
    shared = v1_names & v3_names
    assert shared, "fixture must leave untouched buckets"
    planned = {p.rsplit("/", 1)[-1] for p in cdf.inputFiles()}
    assert planned == changed
    # preimage rows are optional
    post_only = read_manifest_changes(
        spark, root, 1, 3, keys=["k"], include_preimage=False
    )
    assert {r["change_type"] for r in post_only.collect()} == {
        "insert", "delete", "update_postimage"
    }
    # a pure rewrite (compaction) carries every row: files differ, feed
    # is EMPTY — carried rows never masquerade as changes
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        compact_manifest,
    )
    compact_manifest(spark, root, target_file_bytes=10**9)          # v4
    assert read_manifest_changes(spark, root, 3, 4, keys=["k"]).count() == 0
    # v_to defaults to latest; reversed order raises
    assert read_manifest_changes(spark, root, 3, keys=["k"]).count() == 0
    with pytest.raises(ValueError, match="precedes"):
        read_manifest_changes(spark, root, 3, 1, keys=["k"])
    with pytest.raises(ValueError, match="key columns"):
        read_manifest_changes(spark, root, 1, 3, keys=[])


def test_multi_column_bloom_indexes_compose(spark, tmp_path):
    """r15 multi-column Bloom: one index PER COLUMN (Delta's per-column
    bloom filters) — indexing a second column preserves the first, the
    single-value lookup needs col= once two exist, and a range composed
    with BOTH blooms opens fewer files than any single index alone."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_bloom_index,
        describe_manifest,
        read_manifest_bloom_lookup,
        read_manifest_pruned,
        read_manifest_pruned_multi,
        reindex_bloom,
    )

    # 16 one-cell files: cell (i, j) holds the (u, p) pairs with
    # u%4 == i, p%4 == j; ts encodes the cell row (day i+1). Every u
    # spans 4 files (one per j), every p spans 4 files (one per i), a
    # day spans 4 files — only the composition isolates one file.
    rows = [
        (u, p, (u % 4) * 4 + (p % 4), f"2026-01-0{u % 4 + 1} 12:00:00")
        for u in range(8)
        for p in range(8)
    ]
    df = spark.createDataFrame(
        rows, "u long, p long, cell long, ts string"
    ).select("u", "p", "cell", F.col("ts").cast("timestamp").alias("ts"))
    root = str(tmp_path / "t")
    publish_files(
        spark, df.repartitionByRange(16, "cell"), root, stats_cols=["ts"]
    )
    add_bloom_index(spark, root, "u", m=4096, k=3)
    add_bloom_index(spark, root, "p", m=4096, k=3)  # preserves u's

    d = describe_manifest(spark, root)
    assert sorted(d["blooms"]) == ["p", "u"]
    assert d["bloom"] is None  # the single-index field needs exactly one

    # single-value lookup now needs col=
    with pytest.raises(ValueError, match="pass col="):
        read_manifest_bloom_lookup(spark, root, 5)
    hit_u, st_u = read_manifest_bloom_lookup(spark, root, 5, col="u")
    assert hit_u.count() == 8 and st_u["files_read"] == 4
    hit_p, st_p = read_manifest_bloom_lookup(spark, root, 3, col="p")
    assert hit_p.count() == 8 and st_p["files_read"] == 4

    # range alone: day 2 (u%4 == 1) keeps 4 files
    lo, hi = dt.datetime(2026, 1, 2), dt.datetime(2026, 1, 2, 23, 59)
    rng = read_manifest_pruned(spark, root, "ts", lo, hi)
    assert len(rng.inputFiles()) == 4

    # range x bloom(u) x bloom(p): ONE file, exactly the (5, 3) rows
    comp = read_manifest_pruned_multi(
        spark, root, [("ts", lo, hi)], bloom_values={"u": 5, "p": 3}
    )
    assert len(comp.inputFiles()) == 1
    assert [(r["u"], r["p"]) for r in comp.collect()] == [(5, 3)]

    # probing an unindexed column fails loudly
    with pytest.raises(ValueError, match="no bloom index on 'cell'"):
        read_manifest_pruned_multi(
            spark, root, [], bloom_values={"cell": 1}
        )

    # reindex rebuilds EVERY index with recorded params; both keep
    # skipping afterwards
    reindex_bloom(spark, root)
    d2 = describe_manifest(spark, root)
    assert sorted(d2["blooms"]) == ["p", "u"]
    _, st_u2 = read_manifest_bloom_lookup(spark, root, 5, col="u")
    _, st_p2 = read_manifest_bloom_lookup(spark, root, 3, col="p")
    assert st_u2["files_read"] == 4 and st_p2["files_read"] == 4


def test_append_auto_rebase_on_concurrent_commit(spark, tmp_path):
    """r15 append auto-rebase (Iceberg fast-append retry / Delta's
    blind-append non-conflict): a blind append that loses the commit
    race re-reads the latest version and recommits the SAME staged
    files against it — metadata-only retry, data never re-staged. A
    concurrent append of the same txn_id turns the retry into the
    replay no-op; a format change under the append refuses loudly."""
    import os

    from stock_market_data_pipeline_spark.sinks.lake import (
        NoOpCommitLock,
        set_commit_lock,
    )
    from stock_market_data_pipeline_spark.sinks import manifest_lake as ml
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        manifest_files,
        read_manifest,
        vacuum_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark,
        spark.createDataFrame([(k, "base") for k in range(10)],
                              "k long, v string"),
        root,
    )                                                                # v1

    class _Hooked(NoOpCommitLock):
        """Fires a competing committer inside the victim's table hold
        (NoOp holds don't block, so the competitor completes fully and
        the victim's conflict check then sees a moved table)."""

        def __init__(self, compete):
            self.compete = compete
            self.armed = True

        def hold(self, key: str):
            if self.armed and key.endswith("/mf"):
                self.armed = False
                self.compete()
            return super().hold(key)

    def compete_append():
        append_files(
            spark,
            spark.createDataFrame([(100, "rival")], "k long, v string"),
            root,
        )                                                            # v2

    prev = set_commit_lock(_Hooked(compete_append))
    try:
        v = append_files(
            spark,
            spark.createDataFrame([(200, "mine"), (201, "mine")],
                                  "k long, v string"),
            root,
        )                                                            # v3
    finally:
        set_commit_lock(prev)
    assert v == 3
    rows = {(r["k"], r["v"]) for r in read_manifest(spark, root).collect()}
    assert rows == (
        {(k, "base") for k in range(10)}
        | {(100, "rival"), (200, "mine"), (201, "mine")}
    )
    # metadata-only retry: every data file on disk is referenced by v3 —
    # the rebase re-used the staged files instead of staging twice
    referenced = {e["name"] for e in manifest_files(spark, root)}
    on_disk = {
        f for f in os.listdir(f"{root}/data") if not f.startswith(".")
    }
    assert on_disk == referenced

    # same-txn race -> the rebase becomes the documented replay no-op
    def compete_txn():
        append_files(
            spark,
            spark.createDataFrame([(300, "rival-txn")], "k long, v string"),
            root, txn_id=("app", 7),
        )                                                            # v4

    prev = set_commit_lock(_Hooked(compete_txn))
    try:
        v = append_files(
            spark,
            spark.createDataFrame([(400, "lost-txn")], "k long, v string"),
            root, txn_id=("app", 7),
        )
    finally:
        set_commit_lock(prev)
    assert v == 4  # the rival's commit; ours no-opped
    rows = {r["k"] for r in read_manifest(spark, root).collect()}
    assert 300 in rows and 400 not in rows
    # the loser's staged file is an invisible orphan vacuum collects
    res = vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0.0)
    assert res["files_deleted"] >= 1
    assert {r["k"] for r in read_manifest(spark, root).collect()} == rows

    # a format change under the append does not commute
    def compete_fmt():
        publish_files(
            spark,
            spark.createDataFrame([(1, "j")], "k long, v string"),
            root, fmt="json",
        )

    prev = set_commit_lock(_Hooked(compete_fmt))
    try:
        with pytest.raises(ml.ManifestConflictError, match="format"):
            append_files(
                spark,
                spark.createDataFrame([(500, "x")], "k long, v string"),
                root,
            )
    finally:
        set_commit_lock(prev)


def test_table_check_constraints_gate_every_write_path(spark, tmp_path):
    """r15 CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): the
    recorded invariant is validated over the existing table at add time,
    then gates every write of NEW rows — append, full replace, WAP,
    merge, replaceWhere — with SQL CHECK semantics (FALSE violates,
    NULL passes). A refused write commits nothing; constraints survive
    a full replace; maintenance rewrites don't re-check."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        ConstraintViolationError,
        add_table_constraint,
        append_files,
        compact_manifest,
        delete_keys_manifest,
        describe_manifest,
        drop_table_constraint,
        merge_upsert_manifest,
        publish_files_wap,
        read_manifest,
        replace_where_manifest,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, float(k), 0) for k in range(20)], "k long, val double, seq int"
    )
    publish_files(spark, df, root)                                   # v1
    # add-time validation: an invariant the table violates is refused
    with pytest.raises(ConstraintViolationError, match="val_neg"):
        add_table_constraint(spark, root, "val_neg", "val < 0")
    add_table_constraint(spark, root, "val_ok", "val >= 0")          # v2
    add_table_constraint(spark, root, "k_ok", "k < 1000")            # v3
    with pytest.raises(ValueError, match="already has"):
        add_table_constraint(spark, root, "val_ok", "val >= 1")
    d = describe_manifest(spark, root)
    assert d["constraints"] == {"val_ok": "val >= 0", "k_ok": "k < 1000"}

    bad = spark.createDataFrame(
        [(100, -1.0, 1), (101, 2.0, 1)], "k long, val double, seq int"
    )
    good = spark.createDataFrame(
        [(100, 1.0, 1), (101, None, 1)], "k long, val double, seq int"
    )
    n_versions = len(d["committed_versions"])

    # append: refused with the violating constraint named; no commit
    with pytest.raises(ConstraintViolationError, match="val_ok"):
        append_files(spark, bad, root)
    # NULL passes (SQL CHECK semantics)
    append_files(spark, good, root)                                  # v4
    # full replace: constraints carried AND enforced on the new frame
    with pytest.raises(ConstraintViolationError, match="1 rows fail"):
        publish_files(spark, bad, root)
    publish_files(spark, df, root)                                   # v5
    assert describe_manifest(spark, root)["constraints"] == {
        "val_ok": "val >= 0", "k_ok": "k < 1000",
    }
    # WAP: the standing invariant refuses before the ad-hoc audit runs
    with pytest.raises(ConstraintViolationError):
        publish_files_wap(spark, bad, root, audit=lambda c: True)
    # merge + replaceWhere gate their incoming batches
    with pytest.raises(ConstraintViolationError):
        merge_upsert_manifest(
            spark, bad, root, keys=["k"], order_col="seq", n_buckets=4
        )
    merge_upsert_manifest(
        spark, good, root, keys=["k"], order_col="seq", n_buckets=4
    )
    with pytest.raises(ConstraintViolationError):
        replace_where_manifest(
            spark, bad.filter(F.col("k") >= 100), root, "k", 100, 120
        )
    # nothing from the refused writes leaked in
    rows = {r["k"]: r["val"] for r in read_manifest(spark, root).collect()}
    assert rows[100] == 1.0 and rows[101] is None and -1.0 not in rows.values()
    # maintenance carries constraints without re-checking
    compact_manifest(spark, root, target_file_bytes=10**9)
    delete_keys_manifest(
        spark, spark.createDataFrame([(100,)], "k long"), root,
        keys=["k"], n_buckets=4,
    )
    assert describe_manifest(spark, root)["constraints"] == {
        "val_ok": "val >= 0", "k_ok": "k < 1000",
    }
    # drop: misspelled name raises; real drop re-admits the rows
    with pytest.raises(KeyError):
        drop_table_constraint(spark, root, "nope")
    drop_table_constraint(spark, root, "val_ok")
    append_files(
        spark,
        spark.createDataFrame([(200, -5.0, 2)], "k long, val double, seq int"),
        root,
    )
    assert describe_manifest(spark, root)["constraints"] == {
        "k_ok": "k < 1000"
    }
    with pytest.raises(ConstraintViolationError, match="k_ok"):
        append_files(
            spark,
            spark.createDataFrame([(2000, 1.0, 3)],
                                  "k long, val double, seq int"),
            root,
        )


def test_manifest_stream_source_reads_appends_exactly_once(spark, tmp_path):
    """X141 streaming SOURCE over the manifest format (PySpark 4 Python
    DataSource API): version-number offsets, appended-files-only
    planning, exactly-once via the checkpoint offset log, Delta-style
    append-only guard with the ignoreChanges escape, and NULL-fill for
    files pre-dating a schema evolution."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        publish_files,
        read_manifest,
    )
    from stock_market_data_pipeline_spark.streaming.manifest_source import (
        ManifestStreamDataSource,
    )

    spark.dataSource.register(ManifestStreamDataSource)
    root = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    publish_files(
        spark,
        spark.createDataFrame([(k, f"v{k}") for k in range(6)],
                              "k long, v string"),
        root,
    )                                                                # v1
    append_files(
        spark,
        spark.createDataFrame([(10, "a10"), (11, "a11")],
                              "k long, v string"),
        root,
    )                                                                # v2
    run_stream()
    got = {(r["k"], r["v"]) for r in spark.read.parquet(sink).collect()}
    assert got == {(k, f"v{k}") for k in range(6)} | {(10, "a10"), (11, "a11")}

    # incremental: a later append yields ONLY its rows on the next run
    append_files(
        spark, spark.createDataFrame([(12, "a12")], "k long, v string"), root
    )                                                                # v3
    run_stream()
    got2 = {(r["k"], r["v"]) for r in spark.read.parquet(sink).collect()}
    assert got2 == got | {(12, "a12")}  # no duplicates: exactly-once

    # replay with the same checkpoint and NO new version: no new rows
    run_stream()
    assert spark.read.parquet(sink).count() == len(got2)

    # schema evolution: files pre-dating the evolved append NULL-fill
    append_files(
        spark,
        spark.createDataFrame([(13, "a13", 1.5)],
                              "k long, v string, score double"),
        root,
    )                                                                # v4
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", sink2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    full = spark.read.parquet(sink2)
    assert full.count() == read_manifest(spark, root).count()
    by_k = {r["k"]: r["score"] for r in full.collect()}
    assert by_k[13] == 1.5 and by_k[0] is None

    # append-only guard: a full replace breaks the stream loudly...
    publish_files(
        spark,
        spark.createDataFrame([(99, "replaced", 0.0)],
                              "k long, v string, score double"),
        root,
    )                                                                # v5
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)  # resumes past v3
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="not append-only"):
        q.awaitTermination(120)
        raise AssertionError("stream survived a rewritten history")
    # ...and ignoreChanges streams just the added files ACROSS the
    # rewrite range (startingVersion=3 -> the v3->v5 span has removed
    # files; only v5's surviving new file flows, Delta's documented
    # ignoreChanges semantics)
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .option("startingVersion", "3")
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink3"))
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got3 = {r["k"] for r in spark.read.parquet(str(tmp_path / "sink3")).collect()}
    assert got3 == {99}


def test_manifest_history_and_timestamp_as_of(spark, tmp_path):
    """r15 DESCRIBE HISTORY + TIMESTAMP AS OF: every committed version
    records its creating operation and commit wall time; time travel by
    timestamp resolves the latest version VISIBLE at that instant
    (marker mtime — promotion time for WAP), composing with version
    reads and the change feed."""
    import time

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        compact_manifest,
        manifest_history,
        manifest_version_as_of,
        publish_files,
        publish_files_wap,
        read_manifest,
    )

    root = str(tmp_path / "t")
    publish_files(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        root,
    )                                                                # v1
    time.sleep(0.05)
    t_after_v1 = int(time.time() * 1000)
    time.sleep(0.05)
    append_files(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), root
    )                                                                # v2
    compact_manifest(spark, root)                                    # maybe
    publish_files_wap(
        spark, spark.createDataFrame([(3, "c")], "k long, v string"),
        root, audit=lambda c: True,
    )
    hist = manifest_history(spark, root)
    by_v = {h["version"]: h for h in hist}
    assert hist[0]["version"] == max(by_v)  # newest first
    assert by_v[1]["operation"] == "REPLACE"
    assert by_v[2]["operation"] == "APPEND"
    assert by_v[max(by_v)]["operation"] == "WAP_STAGE"
    assert all(
        h["committed_at_ms"] and h["visible_at_ms"] and h["n_files"] >= 1
        for h in hist
    )
    # commit wall times are recorded monotonically along the history
    cts = [h["committed_at_ms"] for h in reversed(hist)]
    assert cts == sorted(cts)

    # timestamp travel: between v1 and v2 resolves v1; now = latest
    assert manifest_version_as_of(spark, root, t_after_v1) == 1
    v_at = manifest_version_as_of(spark, root, int(time.time() * 1000))
    assert v_at == max(by_v)
    rows_v1 = read_manifest(
        spark, root,
        version=manifest_version_as_of(spark, root, t_after_v1),
    )
    assert [(r["k"], r["v"]) for r in rows_v1.collect()] == [(1, "a")]
    with pytest.raises(ValueError, match="predates"):
        manifest_version_as_of(spark, root, t_after_v1 - 10_000_000)


def test_compact_zorder_prunes_on_every_cluster_column(spark, tmp_path):
    """X144 Z-ORDER clustering compaction: a lexicographic [x, y] sort
    gives tight per-file stats on x only — a y-range scan opens every
    file; the Morton-code sort (zorder=True) bounds each rewritten file
    to a rectangle of the (x, y) space, so selective range scans on
    EITHER column skip files. Same rows under all layouts."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        compact_manifest,
        read_manifest_pruned,
    )

    grid = spark.range(64 * 64).selectExpr(
        "id % 64 as x",
        "cast(id / 64 as long) as y",
        "repeat('p', 32) as pad",
    )
    def build(root, **kw):
        # 24 arrival-ordered files: every file straddles both dims
        publish_files(
            spark, grid.repartition(24), root, stats_cols=["x", "y"]
        )
        total = sum(e["bytes"] for e in manifest_files(spark, root))
        res = compact_manifest(
            spark, root, target_file_bytes=max(total // 8, 2),
            cluster_cols=["x", "y"], **kw,
        )
        assert res["compacted"] == 24
        assert res["files_written"] >= 6
        return res["files_written"]

    lex_root, z_root = str(tmp_path / "lex"), str(tmp_path / "z")
    n_lex = build(lex_root)
    n_z = build(z_root, zorder=True)

    def files_and_rows(root, col, lo, hi):
        df = read_manifest_pruned(spark, root, col, lo, hi)
        return len(df.inputFiles()), {(r["x"], r["y"]) for r in df.collect()}

    # x-range: both layouts prune (lexicographic is tightest on x)
    fx_lex, rx_lex = files_and_rows(lex_root, "x", 0, 7)
    fx_z, rx_z = files_and_rows(z_root, "x", 0, 7)
    assert rx_lex == rx_z
    assert fx_lex < n_lex and fx_z < n_z
    # y-range: lexicographic skips NOTHING (every file spans all y);
    # z-order skips most files — the multi-dimensional payoff
    fy_lex, ry_lex = files_and_rows(lex_root, "y", 0, 7)
    fy_z, ry_z = files_and_rows(z_root, "y", 0, 7)
    assert ry_lex == ry_z
    assert fy_lex == n_lex  # the 1-D layout's blind spot
    assert fy_z * 2 <= n_z  # z-order opens at most half
    # zorder needs >=2 cluster cols to differ from the plain sort: with
    # one column it falls back to the lexicographic (identical) layout
    one_root = str(tmp_path / "one")
    publish_files(
        spark, grid.repartition(12), one_root, stats_cols=["x"]
    )
    total = sum(e["bytes"] for e in manifest_files(spark, one_root))
    res = compact_manifest(
        spark, one_root, target_file_bytes=max(total // 3, 2),
        cluster_cols=["x"], zorder=True,
    )
    assert res["compacted"] == 12
    assert res["clustered"] == res["files_written"] >= 2


def test_compact_where_scopes_to_matching_files(spark, tmp_path):
    """X147 scoped compaction (Delta OPTIMIZE ... WHERE): only small
    files whose stats overlap the ranges pack; out-of-scope small files
    carry untouched — the maintenance bill tracks the recent ingest,
    not the table."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        append_files,
        compact_manifest,
    )

    root = str(tmp_path / "t")
    # day-1..4 history, one file per day (range-partitioned), then
    # day-5 accretion as 6 tiny arrival files
    publish_files(
        spark,
        _ts_df(spark, 1, 5, n_per_day=30).repartitionByRange(4, "ts"),
        root,
        stats_cols=["ts"],
    )
    hist = {e["name"] for e in manifest_files(spark, root)}
    day5 = _ts_df(spark, 5, 6, n_per_day=30)
    append_files(spark, day5.repartition(6), root)
    lo, hi = dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 5, 23, 59)
    res = compact_manifest(
        spark, root, target_file_bytes=1 << 30,
        where_ranges={"ts": (lo, hi)},
    )
    # exactly the 6 day-5 files packed; the 4 history files are ALSO
    # small vs the huge target but sit outside the scope and carry
    assert res["compacted"] == 6
    after = {e["name"] for e in manifest_files(spark, root)}
    assert hist <= after
    assert read_manifest(spark, root).count() == 150
    # unscoped compaction would have packed everything
    res2 = compact_manifest(spark, root, target_file_bytes=1 << 30)
    assert res2["compacted"] >= 5


def test_compact_zorder_refuses_string_dimension(spark, tmp_path):
    """Self-review r15: a string z-dimension casts to NULL and every
    row lands in Morton bin 0 — one skewed output partition masquerading
    as clustering. Refused with a pointer at the lexicographic sort."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        compact_manifest,
    )

    root = str(tmp_path / "t")
    df = spark.range(200).selectExpr(
        "id as k", "concat('s', id % 7) as tag"
    )
    publish_files(spark, df.repartition(6), root, stats_cols=["k"])
    with pytest.raises(ValueError, match="lexicographic"):
        compact_manifest(
            spark, root, target_file_bytes=1 << 30,
            cluster_cols=["k", "tag"], zorder=True,
        )
    # the lexicographic path accepts the same columns
    out = compact_manifest(
        spark, root, target_file_bytes=1 << 30,
        cluster_cols=["k", "tag"],
    )
    assert out["compacted"] == 6


def test_small_table_skip_verdicts_match_distributed(spark, tmp_path):
    """r19: pruned reads on SMALL tables evaluate their skip verdicts
    driver-side from a pyarrow read of the sidecars (no Spark job per
    range predicate); the kept file set must be identical to the
    distributed Spark-side scan for every kind — numeric, date,
    timestamp, and the never-prunes exclusions (strings)."""
    import datetime as dt

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML

    root = str(tmp_path / "t")
    rows = [
        (i, float(i), f"s{i:03d}", dt.date(2024, 1, 1 + i % 27),
         dt.datetime(2024, 1, 1 + i % 27, i % 24, 0, 0))
        for i in range(64)
    ]
    df = spark.createDataFrame(
        rows, "k long, x double, s string, d date, ts timestamp"
    ).repartitionByRange(8, "k")
    ML.publish_files(spark, df, root, stats_cols=["k", "x", "s", "d", "ts"])

    cases = [
        ("k", 10, 20), ("x", None, 5.0), ("d", dt.date(2024, 1, 20), None),
        ("ts", dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 15)),
        ("s", "s010", "s020"),  # plain strings: excluded, never prunes
    ]
    for col, lo, hi in cases:
        pruned = ML.read_manifest_pruned(spark, root, col, lo, hi)
        # the driver path must be the one engaged (small table)
        want = {
            tuple(r)
            for r in ML.read_manifest(spark, root)
            .filter(
                (F.lit(True) if lo is None else F.col(col) >= F.lit(lo))
                & (F.lit(True) if hi is None else F.col(col) <= F.lit(hi))
            )
            .collect()
        }
        got = {tuple(r) for r in pruned.collect()}
        assert got == want, (col, lo, hi)
        # and the two verdict engines agree file-for-file
        fs = ML._HadoopFS(spark, root)
        _, meta = ML._resolve_manifest(fs, root)
        ents = ML._manifest_entries(fs, root, meta)
        klo = ML._stat_key(lo) if lo is not None else None
        khi = ML._stat_key(hi) if hi is not None else None
        scs = sorted({e["stats_file"] for e in ents if e.get("stats_file")})
        local = ML._sidecar_skip_decisions_local(root, scs, col, klo, khi)
        assert local is not None
        old_max = ML._SKIP_DECISIONS_DRIVER_MAX
        ML._SKIP_DECISIONS_DRIVER_MAX = -1  # force the distributed scan
        try:
            dist = ML._sidecar_skip_decisions(
                spark, root, ents, col, klo, khi, set()
            )
        finally:
            ML._SKIP_DECISIONS_DRIVER_MAX = old_max
        # distributed returns only skipped names; local returns all
        assert {f for f, s in local.items() if s} == {
            f for f, s in dist.items() if s
        }, (col, lo, hi)


def test_footer_stats_match_scan_stats(spark, tmp_path):
    """r19 optimization: parquet commits harvest per-file stats from
    the freshly written FOOTERS instead of re-scanning the commit's own
    data (O(footer) vs O(commit bytes) read amplification). The
    harvested sidecar must carry value-identical bounds and null counts
    to the scan-based aggregate for every footer-expressible dtype —
    numerics, date, timestamp (micros), strings incl. the 32-char
    truncation rules — and unsupported dtypes (decimal) must fall back
    to the scan, not degrade."""
    import datetime as dt

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    rows = [
        (1, 1.5, "alpha", dt.date(2024, 3, 5),
         dt.datetime(2024, 3, 5, 12, 34, 56, 123456), None),
        (2, float("nan"), "z" * 200, dt.date(2025, 12, 31),
         dt.datetime(2025, 1, 1, 0, 0, 0), 7),
    ]
    schema = (
        "k long, x double, s string, d date, ts timestamp, n int"
    )
    cols = ["k", "x", "s", "d", "ts", "n"]
    df = spark.createDataFrame(rows, schema).repartition(1)

    # footer-harvested sidecar (the default parquet path)
    root_f = str(tmp_path / "footer")
    calls = {"n": 0}
    orig = ML._write_stats_sidecar_footers

    def spy(*a, **kw):
        r = orig(*a, **kw)
        if r is not None:
            calls["n"] += 1
        return r

    ML._write_stats_sidecar_footers = spy
    try:
        ML.publish_files(spark, df, root_f, stats_cols=cols)
        # scan-based sidecar (footer path disabled)
        ML._write_stats_sidecar_footers = lambda *a, **kw: None
        root_s = str(tmp_path / "scan")
        ML.publish_files(spark, df, root_s, stats_cols=cols)
    finally:
        ML._write_stats_sidecar_footers = orig
    assert calls["n"] == 1  # the footer path actually engaged

    def one(root):
        fs = _HadoopFS(spark, root)
        _, meta = ML._resolve_manifest(fs, root)
        (st,) = ML._load_stats(spark, root, meta["files"]).values()
        return st

    sf, ss = one(root_f), one(root_s)
    assert sf["nulls"] == ss["nulls"] == {c: (1 if c == "n" else 0)
                                          for c in cols}
    for c in ("k", "s", "d", "ts", "n"):
        assert sf["stats"][c] == ss["stats"][c], (c, sf["stats"][c],
                                                  ss["stats"][c])
    # the NaN column: both paths must yield bounds that never prune a
    # NaN row — footer harvest degrades to NULL ("unbounded"), the scan
    # records Spark's NaN-as-max; _stat_key excludes NaN either way
    fmin, fmax = sf["stats"]["x"]
    assert fmin is None or fmin <= 1.5
    import math

    smin, smax = ss["stats"]["x"]
    assert smin == 1.5 and math.isnan(smax)

    # decimal stats cols (r20): pyarrow ≥16 decodes decimal footer
    # stats scale-exactly for every physical encoding Spark writes —
    # int32-backed (precision ≤9), int64-backed (≤18) and
    # FIXED_LEN_BYTE_ARRAY — so the footer path now engages and must
    # render value-identically to the scan aggregate (incl. nulls)
    ddf = spark.createDataFrame(
        [(1, "12.34", "12345678901.123456", "-0.5", "0.00000001"),
         (2, "-99.99", None, "7.25", "0.00000002")],
        "k long, v string, w string, x string, y string",
    ).selectExpr(
        "k",
        "CAST(v AS DECIMAL(9,2)) AS v",      # int32-backed
        "CAST(w AS DECIMAL(18,6)) AS w",     # int64-backed
        "CAST(x AS DECIMAL(38,10)) AS x",    # FLBA-backed
        "CAST(y AS DECIMAL(9,8)) AS y",      # sci-notation rendering
    ).repartition(1)
    dcols = ["v", "w", "x", "y"]
    calls["n"] = 0
    root_df_ = str(tmp_path / "dec_f")
    ML._write_stats_sidecar_footers = spy
    try:
        ML.publish_files(spark, ddf, root_df_, stats_cols=dcols)
        ML._write_stats_sidecar_footers = lambda *a, **kw: None
        root_ds = str(tmp_path / "dec_s")
        ML.publish_files(spark, ddf, root_ds, stats_cols=dcols)
    finally:
        ML._write_stats_sidecar_footers = orig
    assert calls["n"] == 1  # the footer path engaged for decimals
    sdf_, sds = one(root_df_), one(root_ds)
    assert sdf_["stats"] == sds["stats"], (sdf_["stats"], sds["stats"])
    assert sdf_["nulls"] == sds["nulls"] == {
        "v": 0, "w": 1, "x": 0, "y": 0,
    }
    assert sdf_["stats"]["v"] == ["-99.99", "12.34"]
    assert sdf_["stats"]["x"] == ["-0.5000000000", "7.2500000000"]


def test_footer_stats_ignore_shadowing_nested_leaf(spark, tmp_path):
    """r19 advice (high): the footer harvest must resolve stats columns
    by full DOTTED path, not parquet leaf name — a struct field whose
    leaf name equals a top-level stats column and sorts EARLIER in the
    parquet schema (struct declared before the flat column) would
    otherwise supply the nested leaf's min/max/null_count as the
    top-level column's bounds, and invalid bounds make pruned reads
    silently skip files that contain matching rows."""
    from pyspark.sql import Row

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    # struct s.k (999/1000) precedes flat k (1/2) in parquet leaf order
    df = spark.createDataFrame(
        [Row(s=Row(k=999), k=1), Row(s=Row(k=1000), k=2)],
        "s struct<k: bigint>, k bigint",
    ).repartition(1)
    calls = {"n": 0}
    orig = ML._write_stats_sidecar_footers

    def spy(*a, **kw):
        r = orig(*a, **kw)
        if r is not None:
            calls["n"] += 1
        return r

    root = str(tmp_path / "t")
    ML._write_stats_sidecar_footers = spy
    try:
        ML.publish_files(spark, df, root, stats_cols=["k"])
    finally:
        ML._write_stats_sidecar_footers = orig
    # the other nested column must NOT disqualify the footer path (the
    # eligibility gate checks stats_cols dtypes only) ...
    assert calls["n"] == 1
    fs = _HadoopFS(spark, root)
    _, meta = ML._resolve_manifest(fs, root)
    (st,) = ML._load_stats(spark, root, meta["files"]).values()
    # ... and the harvested bounds are the FLAT column's, not s.k's
    assert st["stats"]["k"] == [1.0, 2.0]
    assert st["nulls"]["k"] == 0


def test_string_stats_truncate_with_valid_bounds(spark, tmp_path):
    """r18 (Delta's 32-char convention): stats_cols on a corpus text
    column stays metadata-sized — vmin truncates to a 32-char prefix
    (always a valid lower bound), vmax keeps a VALID upper bound by
    incrementing the prefix's last ASCII char (NULL when it can't:
    conservative, never skips). Non-string stats are untouched."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _load_stats,
        _resolve_manifest,
        publish_files,
    )
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    long_a = "a" * 500
    long_z = "z" * 500
    df = spark.createDataFrame(
        [(1, long_a), (2, long_z)], "k long, body string"
    ).repartition(1)
    publish_files(spark, df, root, stats_cols=["k", "body"])
    fs = _HadoopFS(spark, root)
    _, meta = _resolve_manifest(fs, root)
    ents = meta["files"]
    stats = _load_stats(spark, root, ents)
    (st,) = stats.values()
    vmin, vmax = st["stats"]["body"]
    assert vmin == "a" * 32  # prefix: valid lower bound, 32 chars
    assert vmax == "z" * 31 + "{"  # last char incremented: z+1 = '{'
    assert vmin <= long_a and vmax >= long_z  # bounds stay VALID
    assert st["stats"]["k"] == [1.0, 2.0]  # numeric stats untouched

    # non-ASCII tail: no JVM-side increment exists — vmax degrades to
    # NULL ("unbounded above"), never to an INVALID bound
    root2 = str(tmp_path / "t2")
    uni = "é" * 40
    publish_files(
        spark,
        spark.createDataFrame([(1, uni)], "k long, body string")
        .repartition(1),
        root2,
        stats_cols=["body"],
    )
    _, meta2 = _resolve_manifest(_HadoopFS(spark, root2), root2)
    (st2,) = _load_stats(spark, root2, meta2["files"]).values()
    vmin2, vmax2 = st2["stats"]["body"]
    assert vmin2 == "é" * 32
    assert vmax2 is None


# --------------------------------------------------------------------------
# r20: latest-version pointer (Delta `_last_checkpoint` shape)
# --------------------------------------------------------------------------


def _count_fs_listings(monkeypatch):
    """Patch _HadoopFS.child_names to count directory listings."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    calls = {"n": 0}
    orig = _HadoopFS.child_names

    def counting(self, p):
        calls["n"] += 1
        return orig(self, p)

    monkeypatch.setattr(_HadoopFS, "child_names", counting)
    return calls


def test_latest_pointer_resolve_without_listing(spark, tmp_path, monkeypatch):
    """After any commit, resolving the LATEST version must not pay a
    directory listing — the advisory pointer plus O(1) existence probes
    answer it (r20: O(retained versions) LISTs per read removed)."""
    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    ML.publish_files(spark, df, root)
    ML.append_files(spark, df.withColumn("v", F.col("v") + 1), root)

    fs = _HadoopFS(spark, root)
    calls = _count_fs_listings(monkeypatch)
    v, meta = ML._resolve_manifest(fs, root, None)
    assert v == 2 and meta.get("files")
    assert calls["n"] == 0, "latest resolve paid a directory listing"
    # time travel to a specific committed version: existence probes only
    v1, _ = ML._resolve_manifest(fs, root, 1)
    assert v1 == 1
    assert calls["n"] == 0


def test_latest_pointer_stale_and_corrupt_recovery(spark, tmp_path):
    """A stale pointer (crash between marker and pointer write) must be
    recovered by the forward probe; a corrupt/missing pointer must fall
    back to the full listing. Either way the resolved version equals
    the listing's truth."""
    import json as _j

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = spark.range(5).withColumn("v", F.col("id"))
    ML.publish_files(spark, df, root)
    ML.append_files(spark, df, root)
    ML.append_files(spark, df, root)
    fs = _HadoopFS(spark, root)
    ptr = f"{ML._mf_dir(root)}/{ML._LATEST_PTR}"

    # stale: pretend the last two commits never updated the pointer
    fs.write_text(ptr, _j.dumps({"committed": 1, "known": 1}))
    assert ML._latest_committed(fs, root) == (3, 3)
    # corrupt: fall back to the listing
    fs.write_text(ptr, "{not json")
    assert ML._latest_committed(fs, root) == (3, 3)
    # missing: fall back to the listing
    fs.delete(ptr)
    assert ML._latest_committed(fs, root) == (3, 3)
    # next commit restores the pointer
    ML.append_files(spark, df, root)
    assert _j.loads(fs.read_text(ptr)) == {"committed": 4, "known": 4}


def test_latest_pointer_wap_and_promote(spark, tmp_path):
    """A marker-less WAP staging bumps only the pointer's KNOWN mark
    (readers keep resolving the old committed version with no listing);
    promotion moves the COMMITTED mark. A staging abandoned by a failed
    audit leaves the pointer usable."""
    import json as _j

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = spark.range(4).withColumn("v", F.col("id"))
    ML.publish_files(spark, df, root)
    fs = _HadoopFS(spark, root)
    ptr = f"{ML._mf_dir(root)}/{ML._LATEST_PTR}"

    v2 = ML.publish_files_wap(spark, df, root, audit=lambda c: True)
    assert v2 == 2
    assert _j.loads(fs.read_text(ptr)) == {"committed": 2, "known": 2}

    try:
        ML.publish_files_wap(spark, df, root, audit=lambda c: False)
        raise AssertionError("failing audit must raise")
    except ML.AuditFailedError:
        pass
    # staged v3 was abandoned (JSON deleted); pointer still records it
    # as known — the probe tolerates the gap because nothing newer exists
    assert _j.loads(fs.read_text(ptr)) == {"committed": 2, "known": 3}
    assert ML._latest_committed(fs, root) == (2, 3)
    v, _ = ML._resolve_manifest(fs, root, None)
    assert v == 2
    # the next real commit allocates ABOVE the abandoned slot
    ML.append_files(spark, df, root)
    assert _j.loads(fs.read_text(ptr)) == {"committed": 4, "known": 4}


def test_latest_pointer_vacuum_and_slot_reuse(spark, tmp_path):
    """vacuum refreshes the pointer BEFORE deleting manifests, and a
    vacuumed uncommitted slot whose number is later reused by a real
    commit is still seen by pointer consumers (marker re-scan across
    the pointer's (committed, known] span)."""
    import json as _j

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = spark.range(6).withColumn("v", F.col("id"))
    ML.publish_files(spark, df, root)                       # v1
    ML.append_files(spark, df, root)                        # v2
    ML.append_files(spark, df, root)                        # v3
    fs = _HadoopFS(spark, root)
    ptr = f"{ML._mf_dir(root)}/{ML._LATEST_PTR}"

    # abandon a staging at v4 (JSON, no marker), then vacuum it away
    try:
        ML.publish_files_wap(spark, df, root, audit=lambda c: 1 / 0)
    except ML.AuditFailedError:
        pass
    # simulate the crash-before-cleanup shape: recreate the staged JSON
    fs.write_text(f"{ML._mf_dir(root)}/{ML._mf_name(4)}", "{}")
    ML.vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0)
    assert _j.loads(fs.read_text(ptr)) == {"committed": 3, "known": 4}
    assert not fs.exists(f"{ML._mf_dir(root)}/{ML._mf_name(4)}")

    # allocator without a pointer reuses slot 4; pointer consumers must
    # still see its commit (marker re-scan over (committed, known])
    fs.delete(ptr)
    ML.append_files(spark, df, root)                        # v4 (reused)
    fs.write_text(ptr, _j.dumps({"committed": 3, "known": 4}))
    assert ML._latest_committed(fs, root) == (4, 4)


def test_vacuum_with_unwritable_pointer_keeps_commits_visible(
    spark, tmp_path, monkeypatch, caplog
):
    """With `_latest` unwritable, a vacuum that deleted an uncommitted
    slot under the stale pointer would hide every later commit from the
    forward probe, and the next commit would be numbered BELOW the true
    latest. A vacuum that cannot confirm its pointer refresh deletes no
    manifest, keeps the files of every committed version, and still
    collects unreferenced data files."""
    import json as _j

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks import manifest_lake as ML
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    root = str(tmp_path / "t")
    df = spark.range(5).withColumn("v", F.col("id"))
    ML.publish_files(spark, df, root)                       # v1
    fs = _HadoopFS(spark, root)
    ptr = f"{ML._mf_dir(root)}/{ML._LATEST_PTR}"
    assert _j.loads(fs.read_text(ptr)) == {"committed": 1, "known": 1}

    orig = _HadoopFS.write_text

    def failing(self, p, content):
        if p.endswith(f"/mf/{ML._LATEST_PTR}"):
            raise IOError("injected: pointer unwritable")
        return orig(self, p, content)

    monkeypatch.setattr(_HadoopFS, "write_text", failing)
    # a crashed commit leaves v2 uncommitted; the next commit lands at v3
    fs.write_text(f"{ML._mf_dir(root)}/{ML._mf_name(2)}", "{}")
    fs.write_text(f"{ML._data_dir(root)}/orphan.parquet", "junk")
    assert ML.append_files(spark, df, root) == 3
    assert _j.loads(fs.read_text(ptr)) == {"committed": 1, "known": 1}

    # v1 stays retained, so the stale pointer's committed mark stays
    # valid and only the uncommitted v2 is up for deletion
    res = ML.vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0)
    assert "not confirmed" in caplog.text
    assert ML._latest_committed(fs, root) == (3, 3)
    assert ML.read_manifest(spark, root).count() == 10
    # the next commit is numbered above the true latest
    assert ML.append_files(spark, df, root) == 4
    assert ML.read_manifest(spark, root).count() == 15
    assert res["manifests_deleted"] == 0
    assert res["files_deleted"] == 1                        # the orphan
    assert ML.describe_manifest(spark, root)["committed_versions"] == [1, 3, 4]
    assert ML.read_manifest(spark, root, version=1).count() == 5

    # once the pointer is writable again, vacuum retires old manifests
    monkeypatch.setattr(_HadoopFS, "write_text", orig)
    res = ML.vacuum_manifest(spark, root, keep_versions=1, grace_seconds=0)
    assert res["manifests_deleted"] == 3
    assert ML.describe_manifest(spark, root)["committed_versions"] == [4]
    assert ML.read_manifest(spark, root).count() == 15
