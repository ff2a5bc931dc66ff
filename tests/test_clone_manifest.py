"""Shallow clone (X146, sinks/manifest_lake.py clone_manifest): a
metadata-only table copy referencing the source's data files by
per-entry base — the clone diverges independently, maintenance hydrates
touched files, and sidecars (stats/bloom/DV) travel with it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    append_files,
    clone_manifest,
    compact_manifest,
    delete_where_dv,
    describe_manifest,
    manifest_files,
    publish_files,
    read_manifest,
    read_manifest_pruned,
)


def _df(spark, lo, hi):
    rows = [(k, k % 7, f"v{k}") for k in range(lo, hi)]
    return spark.createDataFrame(rows, "k long, g long, s string")


def test_clone_is_metadata_only_and_diverges(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    publish_files(
        spark, _df(spark, 0, 100).repartitionByRange(4, "k"), src,
        stats_cols=["k"],
    )
    v = clone_manifest(spark, src, dst)
    assert v == 1
    # zero data files under the clone's own data dir
    assert not os.path.isdir(f"{dst}/data")
    got = read_manifest(spark, dst)
    assert got.count() == 100
    assert sorted(got.columns) == ["g", "k", "s"]
    d = describe_manifest(spark, dst)
    assert d["external_files"] == 4
    assert d["clone_of"] == {"root": src, "version": 1}
    # pruning works on the clone via the copied stats sidecars
    pruned = read_manifest_pruned(spark, dst, "k", 0, 10)
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 11
    # divergence: appends to the clone never touch the source
    append_files(spark, _df(spark, 100, 110), dst)
    assert read_manifest(spark, dst).count() == 110
    assert read_manifest(spark, src).count() == 100
    # and writes to the source never reach the clone
    append_files(spark, _df(spark, 500, 520), src)
    assert read_manifest(spark, dst).count() == 110


def test_clone_carries_dv_and_survives_source_sidecar_loss(spark, tmp_path):
    import shutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    publish_files(spark, _df(spark, 0, 50).repartition(2), src)
    delete_where_dv(spark, src, "g = 2")
    expect = read_manifest(spark, src).count()
    clone_manifest(spark, src, dst)
    assert read_manifest(spark, dst).count() == expect
    assert read_manifest(spark, dst).filter("g = 2").count() == 0
    # the DV sidecar was COPIED: deleting the source's stats dir must
    # not resurrect deleted rows in the clone
    shutil.rmtree(f"{src}/stats")
    assert read_manifest(spark, dst).filter("g = 2").count() == 0
    assert read_manifest(spark, dst).count() == expect


def test_clone_maintenance_hydrates_into_own_dir(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    publish_files(spark, _df(spark, 0, 80).repartition(8), src)
    clone_manifest(spark, src, dst)
    out = compact_manifest(spark, dst, target_file_bytes=1 << 30)
    assert out["compacted"] == 8
    # the rewrite landed in the CLONE's data dir; no external refs left
    d = describe_manifest(spark, dst)
    assert d["external_files"] == 0
    assert os.path.isdir(f"{dst}/data")
    assert read_manifest(spark, dst).count() == 80
    # source untouched
    assert {e["name"] for e in manifest_files(spark, src)} == {
        e["name"] for e in manifest_files(spark, src)
    }
    assert read_manifest(spark, src).count() == 80


def test_clone_of_clone_points_at_original(spark, tmp_path):
    src = str(tmp_path / "src")
    c1, c2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    publish_files(spark, _df(spark, 0, 30), src)
    clone_manifest(spark, src, c1)
    clone_manifest(spark, c1, c2)
    bases = {e.get("base") for e in manifest_files(spark, c2)}
    assert bases == {f"{src}/data"}
    assert read_manifest(spark, c2).count() == 30


def test_clone_versioned_and_refuses_existing_target(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    v1 = publish_files(spark, _df(spark, 0, 20), src)
    append_files(spark, _df(spark, 20, 30), src)
    clone_manifest(spark, src, dst, version=v1)
    assert read_manifest(spark, dst).count() == 20
    with pytest.raises(FileExistsError):
        clone_manifest(spark, src, dst)


def test_clone_bucketed_table_keeps_merge_contract(spark, tmp_path):
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge_upsert_manifest(
        spark, _df(spark, 0, 60), src, keys=["k"], order_col="g",
        n_buckets=8,
    )
    clone_manifest(spark, src, dst)
    # a keyed merge on the clone touches only hit buckets: the other
    # buckets stay external references
    batch = spark.createDataFrame([(5, 99, "upd")], "k long, g long, s string")
    merge_upsert_manifest(
        spark, batch, dst, keys=["k"], order_col="g", n_buckets=8,
    )
    d = describe_manifest(spark, dst)
    assert 0 < d["external_files"] < 8
    row = read_manifest(spark, dst).filter("k = 5").collect()
    assert row[0]["s"] == "upd"
    assert read_manifest(spark, src).filter("k = 5").collect()[0]["s"] == "v5"


def test_stream_source_resolves_clone_base_paths(spark, tmp_path):
    """The manifest stream's split planner must honor per-entry
    base paths: a stream over a clone reads the SOURCE table's bytes
    for cloned entries and the clone's own for post-clone appends."""
    from stock_market_data_pipeline_spark.streaming.manifest_source import (
        ManifestStreamReader,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    publish_files(spark, _df(spark, 0, 20).coalesce(1), src)
    clone_manifest(spark, src, dst)
    append_files(spark, _df(spark, 20, 25).coalesce(1), dst)
    reader = ManifestStreamReader(dst, read_manifest(spark, dst).schema, {})
    splits = reader.partitions({"version": 0}, {"version": 2})
    paths = sorted(u[0] for s in splits for u in s.units)
    assert any(p.startswith(f"{src}/data/") for p in paths)
    assert any(p.startswith(f"{dst}/data/") for p in paths)
    # the executor read path opens both
    rows = sum(
        b.num_rows for s in splits for b in reader.read(s)
    )
    assert rows == 25


def test_clone_of_identity_table_allocates_independently(spark, tmp_path):
    """r16 (verdict item 7): identity rules ride _carry_constraints into
    a clone, the clone's allocator starts at the source's high-water
    mark AT CLONE TIME, and the two tables then allocate independently
    — ids stay unique within each table, and neither side's appends
    move the other's mark. (Cross-TABLE uniqueness is explicitly not a
    goal: a clone is a fork, and Delta's identity semantics are
    per-table.) Generated-column rules ride along too."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        add_generated_column,
        add_identity_column,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish_files(
        spark,
        spark.createDataFrame([], "id long, v long, v2 long"),
        src,
    )
    add_identity_column(spark, src, "id", start=100, step=10)
    add_generated_column(spark, src, "v2", "v * 2")
    batch = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    append_files(spark, batch, src)  # ids 100,110,120 -> next=130

    clone_manifest(spark, src, dst)
    d_src = describe_manifest(spark, src)
    d_dst = describe_manifest(spark, dst)
    assert d_dst["identity"] == d_src["identity"]
    assert d_dst["identity"]["id"]["next"] == 130
    assert d_dst["generated_cols"] == {"v2": "v * 2"}

    # both sides append post-clone: allocation diverges without either
    # side seeing the other's commits
    append_files(spark, spark.createDataFrame([(4,), (5,)], "v long"), dst)
    append_files(spark, spark.createDataFrame([(6,)], "v long"), src)
    src_rows = read_manifest(spark, src).collect()
    dst_rows = read_manifest(spark, dst).collect()
    src_ids = sorted(r["id"] for r in src_rows)
    dst_ids = sorted(r["id"] for r in dst_rows)
    assert src_ids == [100, 110, 120, 130]
    assert dst_ids == [100, 110, 120, 130, 140]
    assert len(set(src_ids)) == len(src_ids)
    assert len(set(dst_ids)) == len(dst_ids)
    # marks moved independently
    assert describe_manifest(spark, src)["identity"]["id"]["next"] == 140
    assert describe_manifest(spark, dst)["identity"]["id"]["next"] == 150
    # generated rule enforced on the clone's own appends
    assert all(r["v2"] == r["v"] * 2 for r in dst_rows)
