"""Versioned lake tables on the manifest format: marker-file commit
protocol, crash-injection recovery, reader completeness, GC retention,
keyed MERGE, compaction, time travel and copy-forward rollback.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    _COMMIT_SUFFIX,
    _data_dir,
    _mf_dir,
    _mf_name,
    compact_manifest,
    describe_manifest,
    manifest_files,
    merge_upsert_manifest,
    publish_files,
    read_manifest,
    rollback_manifest,
    vacuum_manifest,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, updated long")


def _committed(spark, root):
    return describe_manifest(spark, root)["committed_versions"]


def _stage_uncommitted(spark, root, v):
    """Crash injection: version ``v``'s JSON and its staged data file are
    written, but the commit marker never is. The file is not parquet, so
    a reader that resolved the orphan would fail."""
    fs = _HadoopFS(spark, root)
    name = f"crashed-{v}.parquet"
    fs.write_text(f"{_data_dir(root)}/{name}", "junk")
    fs.write_text(
        f"{_mf_dir(root)}/{_mf_name(v)}",
        json.dumps({"fmt": "parquet", "files": [{"name": name, "bytes": 4}]}),
    )


def test_publish_and_resolve(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        read_manifest(spark, root)
    assert publish_files(spark, _kv(spark, [(1, 1.0, 0)]), root) == 1
    assert describe_manifest(spark, root)["version"] == 1
    assert read_manifest(spark, root).count() == 1
    publish_files(spark, _kv(spark, [(1, 1.0, 0), (2, 2.0, 0)]), root)
    assert describe_manifest(spark, root)["version"] == 2
    assert read_manifest(spark, root).count() == 2


def test_crash_before_marker_is_invisible_and_self_heals(spark, tmp_path):
    """Kill between manifest write and commit marker: readers stay on the
    previous complete version; the next publish commits above the
    orphan, and vacuum collects it."""
    root = str(tmp_path / "t")
    publish_files(spark, _kv(spark, [(1, 1.0, 0)]), root)

    _stage_uncommitted(spark, root, 2)
    assert describe_manifest(spark, root)["version"] == 1
    assert [r.k for r in read_manifest(spark, root).collect()] == [1]

    # recovery needs no operator action: the next publish skips past the
    # orphan (max known + 1 = v3) and vacuum deletes it
    assert publish_files(
        spark, _kv(spark, [(1, 1.0, 0), (2, 2.0, 0)]), root
    ) == 3
    vacuum_manifest(spark, root, keep_versions=5, grace_seconds=0)
    fs = _HadoopFS(spark, root)
    assert not fs.exists(f"{_mf_dir(root)}/{_mf_name(2)}")
    assert not fs.exists(f"{_data_dir(root)}/crashed-2.parquet")
    assert _committed(spark, root) == [1, 3]
    assert read_manifest(spark, root).count() == 2


def test_reader_always_sees_complete_version_across_publishes(spark, tmp_path):
    """At every observable point (including mid-'crash'), the latest
    resolve names a committed manifest whose files are a complete,
    readable dataset."""
    root = str(tmp_path / "t")
    for i in range(1, 5):
        v = publish_files(
            spark, _kv(spark, [(k, float(k), i) for k in range(i)]), root
        )
        fs = _HadoopFS(spark, root)
        assert describe_manifest(spark, root)["version"] == v
        assert fs.exists(f"{_mf_dir(root)}/{_mf_name(v)}{_COMMIT_SUFFIX}")
        assert read_manifest(spark, root).count() == i
        # inject a crashed publish between every committed one
        _stage_uncommitted(spark, root, v + 1)
        assert read_manifest(spark, root).count() == i  # still committed one


def test_gc_keeps_retention_window(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(1, 6):
        publish_files(spark, _kv(spark, [(1, float(i), i)]), root)
    res = vacuum_manifest(spark, root, keep_versions=2, grace_seconds=0)
    assert res["manifests_deleted"] == 3
    fs = _HadoopFS(spark, root)
    names = sorted(
        n for n in fs.child_names(_mf_dir(root)) if n.endswith(".json")
    )
    assert names == ["v00000004.json", "v00000005.json"]
    assert _committed(spark, root) == [4, 5]  # newest + one rollback target
    assert {r.v for r in read_manifest(spark, root).collect()} == {5.0}
    assert {r.v for r in read_manifest(spark, root, version=4).collect()} == {
        4.0
    }


def test_merge_upsert_versioned_semantics(spark, tmp_path):
    root = str(tmp_path / "t")

    def merge(rows):
        return merge_upsert_manifest(
            spark, _kv(spark, rows), root, keys=["k"], order_col="updated",
            n_buckets=4,
        )

    merge([(1, 1.0, 0), (2, 2.0, 0)])
    merge([(2, 22.0, 1), (3, 3.0, 1)])
    got = {r.k: r.v for r in read_manifest(spark, root).collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0}

    # idempotent replay: same batch again changes nothing but the version
    merge([(2, 22.0, 1), (3, 3.0, 1)])
    assert describe_manifest(spark, root)["version"] == 3
    assert {r.k: r.v for r in read_manifest(spark, root).collect()} == got


def test_compact_versioned_no_missing_instant(spark, tmp_path):
    root = str(tmp_path / "t")
    # many small files: one per publish-partition
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.lit(0).alias("updated"),
    ).repartition(16)
    publish_files(spark, df, root)
    assert len(manifest_files(spark, root)) == 16
    stats = compact_manifest(spark, root, target_file_bytes=1 << 30)
    assert stats["compacted"] == 16 and stats["files_written"] == 1
    assert describe_manifest(spark, root)["version"] == 2
    assert len(manifest_files(spark, root)) == 1
    assert read_manifest(spark, root).count() == 1000
    # the pre-compaction version stays readable until vacuumed
    assert read_manifest(spark, root, version=1).count() == 1000


def test_compact_versioned_requires_committed_version(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        compact_manifest(spark, str(tmp_path / "missing"))


def test_time_travel_and_rollback(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_files(spark, _kv(spark, [(1, 1.0, 0)]), root)
    publish_files(spark, _kv(spark, [(1, 2.0, 1), (2, 2.0, 1)]), root)
    publish_files(spark, _kv(spark, [(1, 3.0, 2)]), root)
    assert _committed(spark, root) == [1, 2, 3]

    # time travel: each committed version reads back its own state
    assert read_manifest(spark, root, version=1).count() == 1
    assert read_manifest(spark, root, version=2).count() == 2
    assert {r.v for r in read_manifest(spark, root, version=3).collect()} == {
        3.0
    }
    # latest (no version) is v3
    assert {r.v for r in read_manifest(spark, root).collect()} == {3.0}

    # never-committed versions are unreachable with a clear error
    with pytest.raises(FileNotFoundError, match=r"have \[1, 2, 3\]"):
        read_manifest(spark, root, version=9)

    # rollback = copy-forward re-publish: history stays linear (v4), the
    # restored state equals v2, and v3 remains inspectable
    assert rollback_manifest(spark, root, 2) == 4
    assert _committed(spark, root)[-1] == 4
    assert {(r.k, r.v) for r in read_manifest(spark, root).collect()} == {
        (1, 2.0),
        (2, 2.0),
    }
    assert read_manifest(spark, root, version=3).count() == 1


def test_stale_marker_without_manifest_never_resolves_and_rollback_errors_cleanly(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    publish_files(spark, _kv(spark, [(1, 1.0, 0)]), root)
    fs = _HadoopFS(spark, root)
    # out-of-band incident: a marker survives, its manifest JSON deleted
    fs.write_text(
        f"{_mf_dir(root)}/{_mf_name(2)}{_COMMIT_SUFFIX}", _mf_name(2)
    )
    assert describe_manifest(spark, root)["version"] == 1
    assert _committed(spark, root) == [1]
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_manifest(spark, root, version=2)
    # rollback on an empty root errors with intent, not a Py4J crash
    with pytest.raises(FileNotFoundError, match="no committed manifest"):
        rollback_manifest(spark, str(tmp_path / "empty"), 1)
