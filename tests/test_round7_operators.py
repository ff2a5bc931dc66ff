"""Round-7 operator regressions: as-of struct carry (all columns from ONE
right row, even when the winning row holds NULLs), PSI drift NULL
accounting (missingness is its own signal, not bin-0 mass).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.operators.drift import psi_drift
from stock_market_data_pipeline_spark.operators.joins import as_of_join


def test_asof_null_in_winning_row_stays_null(spark):
    """Backward as-of: the most recent right row wins wholesale. A NULL in
    its value column must surface as NULL — the old per-column
    last(ignorenulls=True) skipped back to an older row's value,
    fabricating a match that exists on no input row."""
    left = spark.createDataFrame([("a", 10)], "k string, t long")
    right = spark.createDataFrame(
        [("a", 5, 7.0), ("a", 8, None)], "k string, rt long, v double"
    )
    row = as_of_join(left, right, key="k", left_ts="t", right_ts="rt").first()
    assert row["v"] is None  # from the t=8 row, NOT 7.0 from t=5


def test_asof_tied_right_rows_carry_one_row(spark):
    """Two right rows tie on (key, ts); the winner is the greatest value
    tuple — and EVERY carried column must come from that single row, so a
    NULL field in the winner stays NULL instead of stitching the other
    tied row's field in."""
    left = spark.createDataFrame([("a", 10)], "k string, t long")
    right = spark.createDataFrame(
        [("a", 5, 2.0, "b"), ("a", 5, 3.0, None)],
        "k string, rt long, v1 double, v2 string",
    )
    row = as_of_join(left, right, key="k", left_ts="t", right_ts="rt").first()
    assert row["v1"] == 3.0 and row["v2"] is None  # (3.0, None) is one row


def test_asof_forward_null_winner(spark):
    left = spark.createDataFrame([("a", 10)], "k string, t long")
    right = spark.createDataFrame(
        [("a", 12, None), ("a", 15, 9.0)], "k string, rt long, v double"
    )
    row = as_of_join(
        left, right, key="k", left_ts="t", right_ts="rt", direction="forward"
    ).first()
    assert row["v"] is None  # earliest row at/after t=10 is t=12 (NULL)


def _psi_rows(spark, ref_rows, cur_rows, n_bins=4):
    ref = spark.createDataFrame([(v,) for v in ref_rows], "x double")
    cur = spark.createDataFrame([(v,) for v in cur_rows], "x double")
    return psi_drift(ref, cur, "x", n_bins=n_bins).collect()


def test_psi_nulls_reported_separately_not_bin0(spark):
    vals = [1.0, 2.0, 3.0, 4.0]
    rows = _psi_rows(spark, vals, vals + [None, None])
    # identical non-null distributions -> PSI exactly 0 even with NULLs on
    # one side; the old coalesce-to-bin-0 made the NULLs look like drift
    assert all(r["psi_total"] == 0.0 for r in rows)
    assert all(r["ref_null_count"] == 0 for r in rows)
    assert all(r["cur_null_count"] == 2 for r in rows)
    # bin 0 holds only the real 1.0 values
    b0 = next(r for r in rows if r["bin"] == 0)
    assert b0["ref_count"] == 1 and b0["cur_count"] == 1


def test_psi_all_null_reference_is_loud_not_silent(spark):
    rows = _psi_rows(spark, [None, None], [1.0, 2.0])
    assert all(r["ref_null_count"] == 2 for r in rows)
    assert sum(r["ref_count"] for r in rows) == 0
    # non-null current mass against an empty reference shows as drift
    assert rows[0]["psi_total"] > 0


def test_line_dedup_strips_boilerplate_keeps_blank_lines(spark):
    from stock_market_data_pipeline_spark.operators.dedup import line_dedup

    footer = "(c) 2026 example corp"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n\n{footer}"),
            (2, f"beta two\n{footer}"),
            (3, f"gamma three\n{footer}"),
            (4, footer),  # all-boilerplate doc -> empty text, row kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert out[1]["text_clean"] == "alpha one\n"  # blank line survives
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "beta two"
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 1
    assert len(out) == 4


def test_line_dedup_below_threshold_untouched(spark):
    from stock_market_data_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert out[1]["text_clean"] == "a\nb" and out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == "a\nc"


def test_wav_roundtrip_and_stats():
    import numpy as np

    from stock_market_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    # ramp fixture: closed-form stats
    ramp = np.arange(-100, 100, dtype=np.int16)
    blob = encode_wav(ramp, 8000)
    assert len(blob) == 44 + 2 * 200  # canonical header + samples
    samples, rate = decode_audio(blob)
    assert rate == 8000 and samples.shape == (200, 1)
    assert (samples[:, 0] == ramp).all()

    # sine fixture: decoded stats equal numpy-side truth
    t = np.arange(1000)
    sine = (np.sin(2 * np.pi * t / 100) * 30000).astype(np.int16)
    s2, r2 = decode_audio(encode_wav(sine, 16000))
    assert r2 == 16000
    assert (s2[:, 0] == sine).all()

    # stereo interleave survives the round trip
    stereo = np.stack([ramp, ramp[::-1]], axis=1)
    s3, _ = decode_audio(encode_wav(stereo, 44100))
    assert s3.shape == (200, 2)
    assert (s3 == stereo).all()


def test_wav_decode_rejects_garbage_and_skips_extra_chunks():
    import struct as _struct

    import numpy as np

    from stock_market_data_pipeline_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    assert decode_audio(None) is None
    assert decode_audio(b"not a wav at all, definitely too short") is None
    blob = bytearray(encode_wav(np.arange(10, dtype=np.int16), 8000))
    blob[20] = 3  # fmt_code = IEEE float -> not PCM16
    assert decode_audio(bytes(blob)) is None

    # LIST chunk between fmt and data is skipped per the RIFF spec
    good = encode_wav(np.arange(10, dtype=np.int16), 8000)
    header, fmt, data = good[:12], good[12:36], good[36:]
    listchunk = b"LIST" + _struct.pack("<I", 4) + b"INFO"
    riff = bytearray(header + fmt + listchunk + data)
    riff[4:8] = _struct.pack("<I", len(riff) - 8)
    out = decode_audio(bytes(riff))
    assert out is not None and out[0].shape == (10, 1)


def test_audio_features_on_clipped_fixture(spark):
    import numpy as np

    from stock_market_data_pipeline_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    # half the samples pinned at full scale -> clipping_ratio 0.5 exactly
    s = np.array([32767, -32768] * 50 + [0] * 100, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(encode_wav(s, 8000))), (2, "audio", bytearray(b"junk"))],
        "asset_id long, modality string, content binary",
    )
    rows = {r["asset_id"]: r for r in extract_audio_features(df).collect()}
    r1 = rows[1]
    assert r1["decode_ok"] and r1["n_samples"] == 200 and r1["peak"] == 32768
    assert r1["clipping_ratio"] == 0.5
    assert r1["duration_s"] == round(200 / 8000 + 1e-9, 6)
    truth = float(np.sqrt((s.astype(np.int64) ** 2).mean()))
    assert abs(r1["rms"] - truth) < 1e-6
    assert rows[2]["decode_ok"] is False and rows[2]["rms"] is None


def test_orchestration_through_hadoop_fs_file_scheme(spark, tmp_path):
    """O1/O2/O4 ride the Hadoop FileSystem API now — an explicit
    file:-scheme URI must behave exactly like a plain local path (the
    os.walk form could not resolve URIs at all)."""
    from stock_market_data_pipeline_spark.operators.orchestration import (
        describe_lake,
        wait_for_path,
    )

    root = tmp_path / "lake"
    uri = f"file:{root}"
    assert wait_for_path(uri, timeout_s=0.2, poll_s=0.05, spark=spark) is False
    df = spark.range(10).withColumn("part", (F.col("id") % 2).cast("int"))
    df.write.partitionBy("part").mode("overwrite").parquet(str(root))
    assert wait_for_path(uri, min_files=1, timeout_s=10, poll_s=0.1, spark=spark)
    summary = describe_lake(spark, uri)
    assert summary["n_rows"] == 10 and summary["n_files"] >= 2
    assert summary["partitions"] == ["part=0", "part=1"]
    assert summary["total_bytes"] > 0


def test_zorder_3d_skips_on_all_three_dimensions(spark, sf_dir, tmp_path):
    """k-dim generalization (round-7): a 3-column Morton layout keeps
    row-group min/max stats selective on EVERY clustered dimension, and
    the 2-D bit order is unchanged (col0 -> even bits, col1 -> odd)."""
    import glob

    import pyarrow.parquet as pq

    from stock_market_data_pipeline_spark.operators.zorder import write_zorder
    from stock_market_data_pipeline_spark.sources.batch import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    zed = str(tmp_path / "zed3")
    write_zorder(
        li, zed, ("l_partkey", "l_suppkey", "l_orderkey"), bits=8, n_files=16
    )

    # 16 files split the top 4 z-bits; with 3 dims each gets 1-2 high bits,
    # so an off-median (0.2-quantile) probe must skip roughly half the
    # groups on EVERY dimension (measured 0.44-0.56 at this layout).
    cols = ("l_partkey", "l_suppkey", "l_orderkey")
    targets = {
        c: li.agg(F.expr(f"percentile_approx({c}, 0.2)")).first()[0]
        for c in cols
    }

    def hit_fraction(path, col):
        total = hits = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                total += 1
                if st.min <= targets[col] <= st.max:
                    hits += 1
        return hits / total

    for c in cols:
        assert hit_fraction(zed, c) <= 0.7, c
    assert spark.read.parquet(zed).count() == li.count()


def test_interleave_bits_n_guards_and_2d_equivalence(spark):
    from stock_market_data_pipeline_spark.operators.zorder import (
        interleave_bits,
        interleave_bits_n,
    )

    df = spark.createDataFrame([(5, 3, 6)], "x long, y long, w long")
    two = df.select(
        interleave_bits(F.col("x"), F.col("y"), 4).alias("a"),
        interleave_bits_n([F.col("x"), F.col("y")], 4).alias("b"),
    ).first()
    assert two["a"] == two["b"]
    # x=0b101 -> bits at z-pos 0,4 ; y=0b011 -> bits at z-pos 1,3 => 0b011011
    assert two["a"] == 0b011011

    # 3-col round-robin: bit i of col j -> bit 3i + j
    three = df.select(
        interleave_bits_n([F.col("x"), F.col("y"), F.col("w")], 2).alias("z")
    ).first()["z"]
    # bits 0..1 of each: x(1,0)->pos 0 ; y(1,1)->pos 1,4 ; w(0,1)->pos 5
    assert three == (1 << 0) + (1 << 1) + (1 << 4) + (1 << 5)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        interleave_bits_n([F.col("x")] * 4, 16)  # 64 bits > 63


def test_dead_letter_stats_mixed_validity(spark):
    from stock_market_data_pipeline_spark.streaming.sources import (
        dead_letter_stats,
        parse_kafka_envelope,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    rows = [
        (b"k", b'{"id": 1}', "t", 0, 10, None),
        (b"k", b"not json", "t", 0, 11, None),
        (b"k", b'{"id": 3}', "t", 0, 12, None),
        (b"k", b"junk", "t", 0, 13, None),
        (b"k", b'{"id": 5}', "t", 1, 20, None),  # clean partition
    ]
    wire = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    parsed = parse_kafka_envelope(
        wire, schema=StructType([StructField("id", LongType())])
    )
    out = {
        (r["topic"], r["partition"]): r
        for r in dead_letter_stats(parsed).collect()
    }
    p0 = out[("t", 0)]
    assert p0["n_rows"] == 4 and p0["n_dead"] == 2
    assert p0["dead_rate"] == 0.5
    assert (p0["first_dead_offset"], p0["last_dead_offset"]) == (11, 13)
    p1 = out[("t", 1)]
    assert p1["n_dead"] == 0 and p1["first_dead_offset"] is None


def test_stream_dead_letter_lane(spark, tmp_path):
    """Poison rows land in the dead-letter path WITH lineage; clean rows in
    the main path; counts close (no row lost, none duplicated); replay
    after a lost checkpoint stays idempotent."""
    import time

    from pyspark.sql.types import LongType, StructField, StructType

    from stock_market_data_pipeline_spark.streaming.pipeline import (
        stream_with_dead_letter,
    )
    from stock_market_data_pipeline_spark.streaming.sources import (
        parse_kafka_envelope,
    )

    src, out, dl, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "dead", "ckpt")
    )
    rows1 = [
        (b"k", b'{"id": 1}', "t", 0, 10, None),
        (b"k", b"poison", "t", 0, 11, None),
    ]
    rows2 = [
        (b"k", b'{"id": 3}', "t", 1, 20, None),
        (b"k", b"junk", "t", 1, 21, None),
        (b"k", b'{"id": 5}', "t", 1, 22, None),
    ]
    wire_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp"
    )
    spark.createDataFrame(rows1, wire_schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(rows2, wire_schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run(ck):
        stream = (
            spark.readStream.schema(wire_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        parsed = parse_kafka_envelope(
            stream, schema=StructType([StructField("id", LongType())])
        )
        q = stream_with_dead_letter(
            parsed, out, dl, ck, trigger={"availableNow": True}
        )
        q.awaitTermination(120)

    run(ckpt)
    good = spark.read.parquet(out)
    dead = spark.read.parquet(dl)
    assert good.count() == 3 and dead.count() == 2
    assert {r["id"] for r in good.collect()} == {1, 3, 5}
    # lineage preserved on the dead lane — the replay bounds
    assert {(r["partition"], r["offset"]) for r in dead.collect()} == {
        (0, 11),
        (1, 21),
    }
    # micro-batch provenance recorded
    assert {r["ingest_batch"] for r in dead.collect()} == {0, 1}

    run(str(tmp_path / "ckpt2"))  # lost checkpoint -> full replay
    assert spark.read.parquet(out).count() == 3
    assert spark.read.parquet(dl).count() == 2


def test_curation_boilerplate_composition(spark):
    """The C4 composition point: with boilerplate_min_docs set, repeated
    footer lines are stripped BEFORE the quality gate, so token counts
    shrink; with it off (the oracle-gated default) the text is untouched."""
    from stock_market_data_pipeline_spark.plans.curation import curate_corpus

    footer = "subscribe to our newsletter today please"
    bodies = [
        "aurora borealis shimmered across the polar sky in ribbons of green",
        "the harbor crane unloaded forty containers before the morning fog",
        "quantum annealing finds low energy states by tunneling through barriers",
        "sourdough starter needs flour water and patience over several days",
        "marathon runners pace themselves through the hills of the old city",
        "volcanic soil grows exceptional coffee at high equatorial altitudes",
    ]
    docs = spark.createDataFrame(
        [(i, f"{b}\n{footer}") for i, b in enumerate(bodies)],
        "doc_id long, text string",
    )
    plain = curate_corpus(docs, min_quality=0.0, min_tokens=1)
    stripped = curate_corpus(
        docs, min_quality=0.0, min_tokens=1, boilerplate_min_docs=3
    )
    # unique bodies all survive either way; only the shared footer differs
    n_plain = {r["doc_id"]: r["n_tokens"] for r in plain.collect()}
    n_stripped = {r["doc_id"]: r["n_tokens"] for r in stripped.collect()}
    assert set(n_plain) == set(n_stripped) == set(range(6))
    for i in range(6):
        assert n_stripped[i] == n_plain[i] - len(footer.split())


def test_incremental_ohlcv_merge_any_order(spark, tmp_path):
    """The algebraic fold is order-independent: folding (late increment
    first, early second) gives the same store as one-shot, and open/close
    pick the true day-edge ticks across increments."""
    from stock_market_data_pipeline_spark.operators.ohlcv import (
        daily_ohlcv,
        merge_daily_ohlcv,
    )
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest,
    )

    rows = [
        # one symbol, one day, ticks deliberately split so the OPEN tick is
        # in the SECOND increment folded
        ("A", "2026-01-05 09:30:00", 10.0, 100),  # open (inc B)
        ("A", "2026-01-05 12:00:00", 15.0, 200),  # high (inc A)
        ("A", "2026-01-05 13:00:00", 8.0, 300),   # low  (inc B)
        ("A", "2026-01-05 16:00:00", 12.0, 400),  # close (inc A)
        ("B", "2026-01-05 10:00:00", 5.0, 50),
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts string, price double, volume long"
    ).select(
        "symbol",
        F.col("ts").cast("timestamp").alias("timestamp"),
        "price",
        "volume",
    )
    inc_a = df.filter(F.col("volume") % 200 == 0)
    inc_b = df.subtract(inc_a)

    store = str(tmp_path / "ohlcv")
    merge_daily_ohlcv(spark, inc_a, store, n_buckets=8)  # late-edge first
    merge_daily_ohlcv(spark, inc_b, store, n_buckets=8)
    state = {
        r["symbol"]: r
        for r in read_manifest(spark, store).collect()
    }
    a = state["A"]
    assert (a["daily_open"], a["daily_high"], a["daily_low"], a["daily_close"]) == (
        10.0, 15.0, 8.0, 12.0,
    )
    assert a["daily_volume"] == 1000 and a["tick_count"] == 4
    full = {r["symbol"]: r for r in daily_ohlcv(df).collect()}
    for s in ("A", "B"):
        for c in ("daily_open", "daily_high", "daily_low", "daily_close",
                  "daily_volume", "tick_count"):
            assert state[s][c] == full[s][c], (s, c)


def test_versioned_stats_pruning_skips_files(spark, sf_dir, tmp_path):
    """The manifest prune must (a) actually skip files — audited via
    inputFiles() — and (b) return exactly the full-read-plus-filter rows;
    a version published WITHOUT stats falls back to the full read."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        publish_files,
        read_manifest,
        read_manifest_pruned,
    )
    from stock_market_data_pipeline_spark.sources.batch import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    hi = li.agg(F.max("l_orderkey")).first()[0]
    bin_id = F.least((F.col("l_orderkey") * 8 / (hi + 1)).cast("int"), F.lit(7))
    root = str(tmp_path / "vt")
    publish_files(
        spark, li.repartition(8, bin_id), root, stats_cols=["l_orderkey"]
    )

    cut = hi // 5
    pruned = read_manifest_pruned(spark, root, "l_orderkey", hi=cut)
    full = read_manifest(spark, root)
    n_total = len(full.inputFiles())
    n_read = len(pruned.inputFiles())
    assert n_read < n_total, (n_read, n_total)  # files actually skipped
    want = full.filter(F.col("l_orderkey") <= cut)
    assert pruned.exceptAll(want).count() == 0
    assert want.exceptAll(pruned).count() == 0

    # two-sided range + empty range
    mid = read_manifest_pruned(spark, root, "l_orderkey", lo=cut, hi=cut * 2)
    wmid = full.filter((F.col("l_orderkey") >= cut) & (F.col("l_orderkey") <= cut * 2))
    assert mid.count() == wmid.count()
    assert read_manifest_pruned(spark, root, "l_orderkey", lo=hi + 10).count() == 0

    # no stats -> full read fallback, same rows
    root2 = str(tmp_path / "vt2")
    publish_files(spark, li, root2)
    fb = read_manifest_pruned(spark, root2, "l_orderkey", hi=cut)
    assert len(fb.inputFiles()) == len(read_manifest(spark, root2).inputFiles())
    assert fb.count() == want.count()
    # unindexed column -> fallback too
    fb2 = read_manifest_pruned(spark, root, "l_quantity", hi=10)
    assert len(fb2.inputFiles()) == n_total
    assert fb2.count() == full.filter(F.col("l_quantity") <= 10).count()


def test_line_dedup_null_text_doc_keeps_row(spark):
    """A NULL-text document must keep its output row (round-7 review: the
    inner posexplode silently dropped it from the corpus)."""
    from stock_market_data_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert set(out) == {1, 2}
    assert out[2]["text_clean"] == "" and out[2]["n_lines"] == 0
    assert out[2]["n_removed"] == 0
    assert out[1]["n_lines"] == 2


def test_heavy_hitters_ignores_null_items(spark, tmp_path):
    """NULL items must not be counted at all — astype(str) would have
    minted a phantom 'None' hitter (round-7 review)."""
    import time

    from stock_market_data_pipeline_spark.streaming.stateful import (
        stream_heavy_hitters,
    )

    rows = [("g", "x")] * 5 + [("g", None)] * 20 + [("g", "y")] * 3
    src = str(tmp_path / "hh_null_src")
    spark.createDataFrame(rows, "group string, item string").coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("group string, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_heavy_hitters(stream, k=4)
        .writeStream.format("memory")
        .queryName("hh_null")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["item"]: r for r in spark.table("hh_null").collect()}
    assert "None" not in got and None not in got
    assert got["x"]["est_count"] == 5 and got["y"]["est_count"] == 3
    assert got["x"]["n_seen"] == 8  # nulls not counted toward n


def test_dead_letter_empty_sides_stay_readable(spark, tmp_path):
    """A healthy batch (no poison) must leave the dead-letter path
    readable, and an all-poison batch the main path — zero-row partition
    writes previously left no parquet footer (round-7 review)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from stock_market_data_pipeline_spark.streaming.pipeline import (
        stream_with_dead_letter,
    )
    from stock_market_data_pipeline_spark.streaming.sources import (
        parse_kafka_envelope,
    )

    wire_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp"
    )
    src, out, dl, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "dead", "ckpt")
    )
    # single batch, ALL rows clean
    spark.createDataFrame(
        [(b"k", b'{"id": 1}', "t", 0, 10, None)], wire_schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(wire_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    parsed = parse_kafka_envelope(
        stream, schema=StructType([StructField("id", LongType())])
    )
    q = stream_with_dead_letter(
        parsed, out, dl, ckpt, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1
    assert spark.read.parquet(dl).count() == 0  # readable, empty


def test_compact_tombstones_null_seq_kept(spark, tmp_path):
    """A tombstone whose seq is NULL must survive a seq-cutoff retention
    delete — a NULL comparison must read as "not old enough", not drop
    the row from the rewrite (round-7 review)."""
    from stock_market_data_pipeline_spark.operators.cdc import changelog_winners
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        delete_where_dv,
        merge_upsert_manifest,
        purge_deletion_vectors,
        read_manifest,
    )

    rows = [
        (1, 10, "upsert", 1.0),
        (2, 5, "delete", None),     # old tombstone -> dropped by cutoff
        (3, None, "delete", None),  # NULL seq -> must be KEPT
    ]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v double")
    root = str(tmp_path / "t")
    reducer = lambda d: changelog_winners(d, ["k"], "seq")  # noqa: E731
    merge_upsert_manifest(
        spark, df, root, keys=["k"], order_col="seq", n_buckets=4,
        reducer=reducer,
    )
    delete_where_dv(spark, root, "op = 'delete' AND seq < 50")
    purge_deletion_vectors(spark, root)
    left = {r["k"]: r["op"] for r in read_manifest(spark, root).collect()}
    assert left == {1: "upsert", 3: "delete"}  # 2 gone, 3 KEPT


def test_ohlcv_combine_tie_is_deterministic(spark):
    """Two partials tying on first_ts/last_ts resolve to min-open /
    max-close — stable across runs (round-7 review)."""
    from stock_market_data_pipeline_spark.operators.ohlcv import (
        combine_ohlcv_partials,
    )

    ts = "2026-01-05 09:30:00"
    parts = spark.createDataFrame(
        [
            ("A", "2026-01-05", ts, ts, 11.0, 11.0, 11.0, 11.0, 10, 1),
            ("A", "2026-01-05", ts, ts, 9.0, 9.0, 9.0, 9.0, 10, 1),
        ],
        "symbol string, date string, first_ts string, last_ts string, "
        "daily_open double, daily_high double, daily_low double, "
        "daily_close double, daily_volume long, tick_count long",
    ).select(
        "symbol",
        F.col("date").cast("date").alias("date"),
        F.col("first_ts").cast("timestamp").alias("first_ts"),
        F.col("last_ts").cast("timestamp").alias("last_ts"),
        "daily_open", "daily_high", "daily_low", "daily_close",
        "daily_volume", "tick_count",
    )
    row = combine_ohlcv_partials(parts).first()
    assert row["daily_open"] == 9.0   # lowest among tied-earliest
    assert row["daily_close"] == 11.0  # highest among tied-latest
    assert row["daily_volume"] == 20 and row["tick_count"] == 2
