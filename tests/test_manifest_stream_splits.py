"""Split planning of the manifest stream source
(streaming/manifest_source.py): planned reads are packed into byte-sized
splits by Spark's file-source rule, so a catch-up over many small files
runs as one Python read task, a file of the split limit or more keeps a
task of its own, and the same offsets always plan the same splits."""

from __future__ import annotations

from collections import Counter

from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    append_files,
    delete_where_dv,
    publish_files,
    read_manifest,
    read_manifest_table_changes,
)
from stock_market_data_pipeline_spark.streaming.manifest_source import (
    _MAX_SPLIT_BYTES,
    ManifestStreamDataSource,
    ManifestStreamReader,
    _pack,
)


def _df(spark, lo, hi):
    rows = [(k, k % 5, float(k)) for k in range(lo, hi)]
    return spark.createDataFrame(rows, "k long, g long, x double")


def _unit(path):
    return (path, None, None, None)


def test_small_files_plan_one_split(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_files(spark, _df(spark, 0, 160).repartition(16), root)
    reader = ManifestStreamReader(root, read_manifest(spark, root).schema, {})
    splits = reader.partitions({"version": 0}, {"version": 1})
    assert len(splits) == 1
    assert len(splits[0].units) == 16
    assert len({u[0] for u in splits[0].units}) == 16
    assert sum(b.num_rows for b in reader.read(splits[0])) == 160


def test_unit_over_the_limit_gets_its_own_split():
    big = (_MAX_SPLIT_BYTES + 1, _unit("big"))
    at_limit = (_MAX_SPLIT_BYTES, _unit("at_limit"))
    small = [(1_000, _unit(f"s{i}")) for i in range(3)]
    splits = _pack(small + [big] + [at_limit], b"")
    assert [[u[0] for u in s.units] for s in splits] == [
        ["big"], ["at_limit"], ["s0", "s1", "s2"],
    ]
    # two files that fit alone but not together (with the open cost)
    half = _MAX_SPLIT_BYTES // 2
    assert len(_pack([(half, _unit("a")), (half, _unit("b"))], b"")) == 2


def test_same_offsets_plan_equal_splits(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_files(spark, _df(spark, 0, 40).repartition(4), root)
    append_files(spark, _df(spark, 40, 60).repartition(2), root)
    schema = read_manifest(spark, root).schema
    first = ManifestStreamReader(root, schema, {}).partitions(
        {"version": 0}, {"version": 2}
    )
    again = ManifestStreamReader(root, schema, {}).partitions(
        {"version": 0}, {"version": 2}
    )
    assert first == again
    assert sum(len(s.units) for s in first) == 6


def test_packed_change_feed_matches_table_changes(spark, tmp_path):
    root = str(tmp_path / "t")
    publish_files(spark, _df(spark, 0, 20).repartition(2), root)     # v1
    append_files(spark, _df(spark, 100, 110), root)                  # v2
    delete_where_dv(spark, root, "g = 3")                            # v3
    append_files(spark, _df(spark, 200, 205), root)                  # v4
    opts = {"path": root, "readChangeFeed": "true"}
    schema = ManifestStreamDataSource(opts).schema()
    reader = ManifestStreamReader(root, schema, opts)
    splits = reader.partitions({"version": 0}, {"version": 4})
    assert len(splits) == 1
    types = {u[1] for u in splits[0].units}
    assert types == {"insert", "delete"}

    got = Counter(
        (r["k"], r["g"], r["x"], r["change_type"], r["commit_version"])
        for b in reader.read(splits[0])
        for r in b.to_pylist()
    )
    want = Counter(
        (r["k"], r["g"], r["x"], r["change_type"], r["commit_version"])
        for r in read_manifest_table_changes(
            spark, root, 0, 4, keys=["k"]
        ).collect()
    )
    assert got == want
    assert Counter(t[3:] for t in got.elements()) == Counter(
        {("insert", 1): 20, ("insert", 2): 10, ("delete", 3): 6,
         ("insert", 4): 5}
    )
