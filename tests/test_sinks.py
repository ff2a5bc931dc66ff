"""Lake sink tests: partitioned writes, partition-pruned reads, keyed MERGE
upsert (``merge_upsert_manifest``)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sinks.lake import (
    with_date_partitions,
    write_partitioned,
)
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    describe_manifest,
    manifest_files,
    merge_upsert_manifest,
    read_manifest,
)
from stock_market_data_pipeline_spark.sources.batch import read_parquet_lake
from stock_market_data_pipeline_spark.sources.ticks import ticks_from_events


def test_partitioned_write_roundtrip(spark, sf_dir, tmp_path):
    t = ticks_from_events(spark, sf_dir)
    out = str(tmp_path / "lake")
    write_partitioned(t, out, ["symbol"])
    back = read_parquet_lake(spark, out)
    assert back.count() == t.count()
    # Hive layout: one dir per symbol
    dirs = {d for d in os.listdir(out) if d.startswith("symbol=")}
    assert len(dirs) == t.select("symbol").distinct().count()


def test_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    t = with_date_partitions(ticks_from_events(spark, sf_dir))
    out = str(tmp_path / "dated")
    write_partitioned(t, out, ["year", "month", "day"])
    pruned = read_parquet_lake(spark, out, where=F.col("day") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    expected = t.filter(F.col("day") == 3).count()
    assert pruned.count() == expected


def test_merge_upsert_last_writer_wins(spark, tmp_path):
    path = str(tmp_path / "merged")
    b1 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 100.0, 1), ("MSFT", "2024-01-01", 200.0, 1)],
        ["symbol", "date", "close", "version"],
    )
    merge_upsert_manifest(
        spark, b1, path, keys=["symbol", "date"], order_col="version"
    )
    b2 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 111.0, 2), ("NVDA", "2024-01-01", 800.0, 2)],
        ["symbol", "date", "close", "version"],
    )
    merge_upsert_manifest(
        spark, b2, path, keys=["symbol", "date"], order_col="version"
    )
    got = {(r.symbol, r.close) for r in read_manifest(spark, path).collect()}
    assert got == {("AAPL", 111.0), ("MSFT", 200.0), ("NVDA", 800.0)}
    # stale incoming (lower version) must NOT overwrite
    b3 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 90.0, 0)], ["symbol", "date", "close", "version"]
    )
    merge_upsert_manifest(
        spark, b3, path, keys=["symbol", "date"], order_col="version"
    )
    aapl = (
        read_manifest(spark, path).filter(F.col("symbol") == "AAPL").first()
    )
    assert aapl.close == 111.0


def test_merge_upsert_scheme_qualified_uri(spark, tmp_path):
    # The merge routes ALL filesystem traffic through Hadoop's FileSystem
    # API — an explicit file:// URI (which os.path/shutil would mangle)
    # must behave identically to a bare local path, with or without a
    # trailing slash. This is the portability contract: the same code
    # path serves hdfs:// and s3a://.
    path = f"file://{tmp_path}/merged_uri"
    b1 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 100.0, 1), ("MSFT", "2024-01-01", 5.0, 1)],
        ["symbol", "date", "close", "version"],
    )
    merge_upsert_manifest(
        spark, b1, path, keys=["symbol", "date"], order_col="version",
        n_buckets=4,
    )
    b2 = spark.createDataFrame(
        [("AAPL", "2024-01-01", 111.0, 2), ("NVDA", "2024-01-01", 800.0, 2)],
        ["symbol", "date", "close", "version"],
    )
    merge_upsert_manifest(
        spark, b2, path + "/", keys=["symbol", "date"], order_col="version",
        n_buckets=4,
    )
    got = {(r.symbol, r.close) for r in read_manifest(spark, path).collect()}
    assert got == {("AAPL", 111.0), ("MSFT", 5.0), ("NVDA", 800.0)}
    assert describe_manifest(spark, path)["committed_versions"] == [1, 2]
    # nothing written beside the table root, and no staging dir left in it
    assert os.listdir(tmp_path) == ["merged_uri"]
    assert not [
        n for n in os.listdir(tmp_path / "merged_uri" / "data")
        if n.startswith("stage-")
    ]


def test_merge_upsert_bucketed_scheme_qualified_uri(spark, tmp_path):
    # Single-key bucketed table through a file:// root: the second merge
    # touches one bucket and carries the other key's file unchanged.
    path = f"file://{tmp_path}/bucketed_uri"
    b1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], ["k", "v", "version"]
    )
    merge_upsert_manifest(
        spark, b1, path, keys=["k"], order_col="version", n_buckets=4
    )
    b2 = spark.createDataFrame([(1, "a2", 2)], ["k", "v", "version"])
    out = merge_upsert_manifest(
        spark, b2, path, keys=["k"], order_col="version", n_buckets=4
    )
    assert out["touched_buckets"] == 1
    got = {(r.k, r.v) for r in read_manifest(spark, path).collect()}
    assert got == {(1, "a2"), (2, "b")}


def _data_files(root):
    return set(os.listdir(os.path.join(root, "data")))


def test_bucketed_merge_rewrites_strict_subset(spark, tmp_path):
    path = str(tmp_path / "bucketed")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.lit(0).alias("version"),
    )
    first = merge_upsert_manifest(
        spark, base, path, keys=["k"], order_col="version", n_buckets=16
    )
    assert first["touched_buckets"] == 16  # 1000 keys cover all buckets
    v1 = {e["name"] for e in manifest_files(spark, path)}

    # a 3-key micro-batch: strict subset of buckets rewritten
    small = spark.createDataFrame(
        [(7, -7.0, 1), (8, -8.0, 1), (9, -9.0, 1)], "k long, v double, version int"
    )
    out = merge_upsert_manifest(
        spark, small, path, keys=["k"], order_col="version", n_buckets=16
    )
    assert 1 <= out["touched_buckets"] <= 3 < 16
    v2 = {e["name"] for e in manifest_files(spark, path)}
    # every file outside the touched buckets is carried by reference
    carried = v1 & v2
    assert len(carried) == out["carried_files"] == 16 - out["touched_buckets"]
    assert len(v2 - v1) == out["rewritten_files"] == out["touched_buckets"]

    # semantics: the keep-last fold of both batches
    rows = {
        r.k: (r.v, r.version) for r in read_manifest(spark, path).collect()
    }
    want = {k: (k * 1.0, 0) for k in range(1000)}
    want.update({7: (-7.0, 1), 8: (-8.0, 1), 9: (-9.0, 1)})
    assert rows == want


def test_bucketed_merge_spec_mismatch_raises(spark, tmp_path):
    """The bucket layout is recorded at the first merge and fixed: a merge
    or a keyed delete with another layout raises before anything is
    staged or committed, instead of scattering keys across incompatible
    bucket tags."""
    import pytest

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        delete_keys_manifest,
    )

    path = str(tmp_path / "spec")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"), F.lit(0).alias("version")
    )
    merge_upsert_manifest(
        spark, df, path, keys=["k"], order_col="version", n_buckets=8
    )
    files = _data_files(path)
    with pytest.raises(ValueError, match="bucketed as"):
        merge_upsert_manifest(
            spark, df, path, keys=["k"], order_col="version", n_buckets=4
        )
    with pytest.raises(ValueError, match="bucketed as"):
        delete_keys_manifest(spark, df, path, keys=["k"], n_buckets=4)
    assert describe_manifest(spark, path)["committed_versions"] == [1]
    assert _data_files(path) == files
    # the right layout still merges
    merge_upsert_manifest(
        spark, df, path, keys=["k"], order_col="version", n_buckets=8
    )
    assert read_manifest(spark, path).count() == 10


def test_bucketed_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "idem")
    df = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v"), F.lit(3).alias("version")
    )
    for _ in range(2):
        merge_upsert_manifest(
            spark, df, path, keys=["k"], order_col="version", n_buckets=8
        )
    got = read_manifest(spark, path)
    assert got.count() == 50
    assert got.filter(F.col("version") != 3).count() == 0


def test_compact_small_files_preserves_data(spark, sf_dir, tmp_path):
    """Many small files in → few right-sized files out, rows identical,
    stats honest; partitioned roots are refused."""
    from stock_market_data_pipeline_spark.sinks.lake import compact_small_files

    src = str(tmp_path / "smalls")
    t = ticks_from_events(spark, sf_dir).select(
        "symbol", "price", "volume", "timestamp", "event_id"
    )
    t.repartition(40).write.mode("overwrite").parquet(src)
    before = t.orderBy("event_id").collect()
    n_files_before = len(
        [f for f in os.listdir(src) if f.endswith(".parquet")]
    )
    assert n_files_before >= 40
    stats = compact_small_files(spark, src, target_file_bytes=10 * 1024 * 1024)
    after_files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert stats["files_before"] == n_files_before
    assert stats["files_after"] == len(after_files)
    assert len(after_files) < n_files_before
    after = spark.read.parquet(src).orderBy("event_id").collect()
    assert after == before

    # refuses partitioned roots
    import pytest as _pytest

    part = str(tmp_path / "parted")
    t.limit(100).write.partitionBy("symbol").mode("overwrite").parquet(part)
    with _pytest.raises(ValueError, match="partition subdirectories"):
        compact_small_files(spark, part)


def test_read_jsonl_docs_quarantines_poison_lines(spark, tmp_path):
    """PERMISSIVE JSONL scan: valid docs parse typed, malformed lines land in
    the quarantine frame with the raw line preserved — nothing is dropped."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stock_market_data_pipeline_spark.sources.batch import read_jsonl_docs

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha beta"}\n'
        '{"doc_id": 2, "text": "gamma"}\n'
        "{truncated json no close\n"
        '{"doc_id": "not_a_number", "text": 3}\n'
        "   \n"
        '{"doc_id": 4, "text": "delta"}\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    clean, quarantined = read_jsonl_docs(spark, str(p), schema)
    good = {r["doc_id"] for r in clean.collect()}
    assert {1, 2, 4} <= good
    bad = [r["raw_line"] for r in quarantined.collect()]
    assert any("truncated" in b for b in bad)
    # blank/whitespace lines (NULL parsed struct) are quarantined, never
    # surfaced as all-null "clean" documents
    assert any(b.strip() == "" for b in bad)
    assert all(r["doc_id"] is not None for r in clean.collect())
    # conservation: every input line is in exactly one frame
    assert clean.count() + quarantined.count() == 6


def test_hadoopfs_rename_no_replace(spark, tmp_path):
    """r19 advice: the local rename fast path must NEVER silently
    replace an existing destination — Hadoop's rename reports that case
    as failure and the versioned-lake swap paths rely on the raised
    IOError as a race guard. The r20 fast path uses an atomic
    link+unlink for regular files, so a dst appearing between any
    check and the move loses the window entirely; directories keep the
    JVM call and its exact semantics."""
    import os

    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    fs = _HadoopFS(spark, str(tmp_path))
    src = tmp_path / "a.txt"
    dst = tmp_path / "b.txt"
    src.write_text("payload")
    fs.rename(str(src), str(dst))
    assert not src.exists() and dst.read_text() == "payload"

    # dst exists -> the move must FAIL loudly, never clobber
    src2 = tmp_path / "c.txt"
    src2.write_text("new")
    dst.write_text("precious")
    try:
        fs.rename(str(src2), str(dst))
        raise AssertionError("rename onto an existing file must raise")
    except IOError:
        pass
    assert dst.read_text() == "precious" and src2.exists()

    # directory move (JVM path) still works when dst is absent
    d1 = tmp_path / "dir1"
    d1.mkdir()
    (d1 / "x").write_text("1")
    d2 = tmp_path / "dir2"
    fs.rename(str(d1), str(d2))
    assert not d1.exists() and (d2 / "x").read_text() == "1"


def test_hadoopfs_rename_many_pooled(spark, tmp_path):
    """r20: staging moves issue their per-file renames through
    ``rename_many`` — local stays the inline fast path; a non-local FS
    fans the JVM round-trips out over a driver thread pool (py4j gives
    each thread its own connection). Semantics per pair are unchanged:
    all succeed, or the first failure raises after the pool drains."""
    from stock_market_data_pipeline_spark.sinks.lake import _HadoopFS

    fs = _HadoopFS(spark, str(tmp_path))
    pairs = []
    for i in range(6):
        s = tmp_path / f"s{i}.txt"
        s.write_text(str(i))
        pairs.append((str(s), str(tmp_path / f"d{i}.txt")))
    # exercise the pooled branch (the JVM path works on local FS too)
    fs._is_local = False
    fs.rename_many(pairs)
    for i in range(6):
        assert not (tmp_path / f"s{i}.txt").exists()
        assert (tmp_path / f"d{i}.txt").read_text() == str(i)

    # a missing source must surface loudly (the JVM path raises or
    # returns False -> IOError, depending on the FS), never pass silent
    bad = [(str(tmp_path / "nope.txt"), str(tmp_path / "x.txt"))]
    bad += [(str(tmp_path / f"d{i}.txt"), str(tmp_path / f"e{i}.txt"))
            for i in range(6)]
    import pytest as _pytest

    with _pytest.raises(Exception):
        fs.rename_many(bad)
    assert not (tmp_path / "x.txt").exists()
