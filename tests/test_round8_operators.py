"""Round-8 regression tests — pins for the five round-7 ADVICE findings.

Each test encodes the exact failure mode the advisor described, so a
regression reproduces the original symptom rather than a vague assertion.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


def test_line_dedup_oracle_keeps_null_text_docs(spark):
    """ADVICE r7 #1: the DuckDB oracle dropped NULL-text documents
    (string_split(NULL) yields no rows) while the operator keeps them —
    parity held only because the fixtures had no NULL text. Run BOTH
    engines over a corpus WITH a NULL-text doc and compare."""
    from stock_market_data_pipeline_spark.operators.dedup import line_dedup
    from stock_market_data_pipeline_spark.oracles import ORACLES

    rows = [
        (1, "common foot line unique alpha text"),
        (2, "common foot line unique beta words"),
        (3, "common foot line unique gamma stuff"),
        (4, None),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "text",
        # same 3-words-per-line chunking the registry query applies
        F.regexp_replace(F.col("text"), r"((?:\S+\s+){2}\S+)\s+", "$1\n"),
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_removed"])
        for r in line_dedup(docs, min_docs=3).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'common foot line unique alpha text'),"
        "(2, 'common foot line unique beta words'),"
        "(3, 'common foot line unique gamma stuff'),"
        "(4, NULL),"
        "(5, '')) AS t(doc_id, text)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ORACLES["line_dedup"]).fetchall()
    }
    con.close()
    assert set(got) == {1, 2, 3, 4, 5}
    assert got == want
    assert got[4] == ("", 0, 0)  # NULL text keeps its row in BOTH engines
    # the shared 3-word prefix line is boilerplate in all three docs
    assert got[1][2] == 1 and "common foot line" not in got[1][0]


def test_compact_tombstones_null_op_rows_kept(spark, tmp_path):
    """ADVICE r7 #2: a row whose op is NULL failed both filter(cond) and
    filter(~cond) and vanished from the rewrite of any touched bucket.
    The retention delete must keep it while rewriting the file it shares
    with the dropped tombstone."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        delete_where_dv,
        merge_upsert_manifest,
        purge_deletion_vectors,
        read_manifest,
    )

    rows = [
        (1, 10, "upsert"),
        (2, 11, "delete"),  # tombstone -> its file is rewritten
        (3, 12, None),      # NULL op -> must survive
        (4, 13, "upsert"),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, op string")
    root = str(tmp_path / "cdc")
    # one bucket: the tombstone and the NULL-op row share a file
    merge_upsert_manifest(
        spark, df, root, keys=["k"], order_col="seq", n_buckets=1
    )
    delete_where_dv(spark, root, "op = 'delete'")
    assert purge_deletion_vectors(spark, root)["files_rewritten"] == 1
    left = {r["k"] for r in read_manifest(spark, root).collect()}
    assert left == {1, 3, 4}  # 2 dropped; the NULL-op row 3 KEPT


def test_uri_sensor_without_session_raises(monkeypatch, tmp_path):
    """ADVICE r7 #3: a scheme'd path with no SparkSession silently fell
    back to os.walk (sees nothing on s3a://) and burned the full sensor
    timeout; it must fail loudly instead. Scheme-less local paths keep
    working without a session."""
    from stock_market_data_pipeline_spark.operators import orchestration

    monkeypatch.setattr(
        orchestration.SparkSession, "getActiveSession", lambda: None
    )
    with pytest.raises(RuntimeError, match="scheme"):
        orchestration._data_files("s3a://bucket/drop", spark=None)
    # local path still walks the local disk with no session at all
    p = tmp_path / "drop"
    p.mkdir()
    (p / "part-0000.csv").write_text("x\n1\n")
    assert len(orchestration._data_files(str(p), spark=None)) == 1


def test_ohlcv_partial_intra_batch_tie_deterministic(spark):
    """ADVICE r7 #4: min_by(price, ts) broke ties arbitrarily WITHIN one
    increment; the struct tie rule (lowest open among tied-earliest,
    highest close among tied-latest) must hold at the base aggregation,
    not just across partials."""
    from stock_market_data_pipeline_spark.operators.ohlcv import ohlcv_partial

    rows = [
        ("A", "2026-01-05 09:30:00", 11.0, 10),
        ("A", "2026-01-05 09:30:00", 9.0, 10),   # tied-earliest, lower
        ("A", "2026-01-05 16:00:00", 20.0, 10),
        ("A", "2026-01-05 16:00:00", 30.0, 10),  # tied-latest, higher
    ]
    df = spark.createDataFrame(
        rows, "symbol string, timestamp string, price double, volume long"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    # repartition so tied rows meet in different orders across runs; the
    # struct key makes the outcome independent of encounter order
    row = ohlcv_partial(df.repartition(4)).first()
    assert row["daily_open"] == 9.0
    assert row["daily_close"] == 30.0
    assert row["daily_high"] == 30.0 and row["daily_low"] == 9.0


def test_stat_key_kinds_and_ordering():
    """ADVICE r7 #5 helper contract: numerics and ISO dates/timestamps are
    comparable within their kind; Decimals, plain strings and bools are
    excluded; date-vs-timestamp never cross-compares."""
    import datetime as dt
    from decimal import Decimal

    from stock_market_data_pipeline_spark.sinks.lake import _stat_key

    assert _stat_key(3) == ("num", 3.0)
    assert _stat_key(True) is None
    assert _stat_key(Decimal("9")) is None  # '9' > '10' lexicographically
    assert _stat_key("widget") is None
    kd = _stat_key("2020-01-02")
    assert kd == ("date", "2020-01-02") == _stat_key(dt.date(2020, 1, 2))
    assert kd[0] != _stat_key("2020-01-02 00:00:00")[0]  # no cross-kind
    # fraction padding keeps lexicographic == chronological
    t0 = _stat_key("2020-01-02 00:00:00")
    t5 = _stat_key("2020-01-02 00:00:00.5")
    t_dt = _stat_key(dt.datetime(2020, 1, 2, 0, 0, 0, 500000))
    assert t0[1] < t5[1] and t5 == t_dt


def test_pruned_read_engages_on_date_stats(spark, sf_dir, tmp_path):
    """ADVICE r7 #5: date/timestamp stats (serialized via str()) silently
    never pruned — the full scan was paid with no warning. Publish a
    date-clustered version and assert files are ACTUALLY skipped while the
    result still equals the full filtered read."""
    import datetime as dt

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        publish_files,
        read_manifest,
        read_manifest_pruned,
    )
    from stock_market_data_pipeline_spark.sources.batch import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    # range-cluster into 8 files by ship-date so per-file ranges are tight
    root = str(tmp_path / "vt_date")
    publish_files(
        spark,
        li.repartitionByRange(8, "l_shipdate"),
        root,
        stats_cols=["l_shipdate"],
    )
    # the lake column is timestamp_ntz, so stats are timestamp-kind; bounds
    # must be datetimes (a date bound deliberately does NOT cross-compare)
    lo = dt.datetime(1994, 1, 1)
    hi = dt.datetime(1994, 6, 30, 23, 59, 59)
    pruned = read_manifest_pruned(spark, root, "l_shipdate", lo=lo, hi=hi)
    full = read_manifest(spark, root)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = full.filter(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi))
    )
    assert pruned.exceptAll(want).count() == 0
    assert want.exceptAll(pruned).count() == 0


# ---------------------------------------------------------------------------
# round-8 operators
# ---------------------------------------------------------------------------


def test_merge_intervals_semantics(spark):
    """Overlap merges, touching endpoints merge, gaps split; n_merged
    counts folded intervals."""
    from stock_market_data_pipeline_spark.operators.events import (
        merge_intervals,
    )

    rows = [
        # key A: [0,10] + [5,12] overlap; [12,20] touches; [30,40] apart
        ("A", 0, 10), ("A", 5, 12), ("A", 12, 20), ("A", 30, 40),
        # key B: contained interval [2,3] inside [0,10]
        ("B", 0, 10), ("B", 2, 3),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {
        (r["k"], r["seg_start"]): (r["seg_end"], r["n_merged"])
        for r in merge_intervals(df, key="k", start="s", end="e").collect()
    }
    assert out == {
        ("A", 0): (20, 3),
        ("A", 30): (40, 1),
        ("B", 0): (10, 2),
    }


def test_blocked_levenshtein_pairs_blocking_and_guard(spark):
    """Pairs only form within a block; the length-band guard and the
    name_a < name_b canonical order hold."""
    from stock_market_data_pipeline_spark.operators.fuzzy import (
        blocked_levenshtein_pairs,
    )

    rows = [
        (1, "red widget"), (2, "blue widget"), (3, "rad widget"),
        (4, "red bolt"),          # different block despite small distance
        (5, "crimson widget"),    # same block, distance > 4 from "red widget"
        (6, "red widget"),        # duplicate name -> counted, not paired
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = blocked_levenshtein_pairs(
        df,
        name_col="name",
        block_col=F.regexp_extract("name", "([a-z]+)$", 1),
        max_dist=4,
    ).collect()
    pairs = {(r["name_a"], r["name_b"]): (r["dist"], r["n_a"], r["n_b"]) for r in out}
    assert ("blue widget", "red widget") in pairs
    assert pairs[("blue widget", "red widget")] == (4, 1, 2)  # dup counted
    assert ("rad widget", "red widget") in pairs
    assert pairs[("rad widget", "red widget")][0] == 1
    assert all(a < b for a, b in pairs)  # canonical order
    # cross-block and over-distance pairs excluded
    assert not any("bolt" in a or "bolt" in b for a, b in pairs)
    assert not any("crimson widget" in (a, b) for a, b in pairs)


def test_bm25_topk_formula_and_ranking(spark):
    """Scores match a hand-computed Okapi BM25; docs without query terms
    never appear; ranking is (rounded score desc, id)."""
    import math

    from stock_market_data_pipeline_spark.operators.tfidf import bm25_topk

    rows = [
        (1, "cat dog cat"),       # tf(cat)=2, dl=3
        (2, "cat bird"),          # tf(cat)=1, dl=2
        (3, "fish fish fish"),    # no query term
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_topk(df, ["cat"], top_k=10).collect()}
    assert set(out) == {1, 2}
    n, avgdl = 3.0, (3 + 2 + 3) / 3.0
    idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))
    k1, b = 1.2, 0.75

    def score(tf, dl):
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(out[1]["score"] - round(score(2, 3), 6)) < 2e-6
    assert abs(out[2]["score"] - round(score(1, 2), 6)) < 2e-6
    assert out[1]["score"] > out[2]["score"]
    assert out[1]["n_hits"] == 1 and out[1]["dl"] == 3


def test_version_diff_types_and_null_safety(spark, tmp_path):
    """added/removed/changed classification, NULL-safe value compare, and
    include_unchanged."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        manifest_version_diff,
        publish_files,
    )

    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    v2 = spark.createDataFrame(
        [(2, "b"), (3, None), (4, "DD"), (5, "e")], "k long, v string"
    )
    root = str(tmp_path / "vd")
    publish_files(spark, v1, root)
    publish_files(spark, v2, root)
    out = {
        r["k"]: r["change_type"]
        for r in manifest_version_diff(spark, root, 1, 2, keys=["k"]).collect()
    }
    # 3 has NULL == NULL -> unchanged (excluded); 1 removed; 5 added; 4 changed
    assert out == {1: "removed", 4: "changed", 5: "added"}
    full = {
        r["k"]: r["change_type"]
        for r in manifest_version_diff(
            spark, root, 1, 2, keys=["k"], include_unchanged=True
        ).collect()
    }
    assert full[2] == "unchanged" and full[3] == "unchanged"


def test_with_split_assign_deterministic_and_exhaustive(spark):
    """Every row gets a split; assignment is id-deterministic (stable under
    re-partitioning and corpus growth); fractions land near targets."""
    from stock_market_data_pipeline_spark.operators.sampling import (
        with_split_assign,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = with_split_assign(df).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert set(by_id.values()) == {"train", "val", "test"}
    counts = {s: sum(1 for v in by_id.values() if v == s) for s in ("train", "val", "test")}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # growth-stable: the same ids in a smaller corpus get the same split
    small = with_split_assign(
        df.filter(F.col("doc_id") < 100).repartition(7)
    ).collect()
    assert all(by_id[r["doc_id"]] == r["split"] for r in small)


def test_bpe_pair_counts_hand_example(spark):
    """Pair totals = sum over distinct words of freq x in-word occurrences;
    1-char words contribute nothing."""
    from stock_market_data_pipeline_spark.operators.vocab import (
        bpe_pair_counts,
    )

    # "aba" x2 (pairs ab, ba), "ab" x1 (ab), "a" x1 (none)
    df = spark.createDataFrame(
        [(1, "aba ab"), (2, "aba a")], "doc_id long, text string"
    )
    out = {r["pair"]: r["total"] for r in bpe_pair_counts(df).collect()}
    assert out == {"ab": 3, "ba": 2}


def test_fingerprint_diff_catches_duplicates_and_equality(spark):
    """Equal tables produce an EMPTY diff; a duplicated row IS caught (the
    sum fold, unlike xor, does not cancel pairwise); a NULL value differs
    from the literal sentinel-less string."""
    from stock_market_data_pipeline_spark.operators.fingerprint import (
        fingerprint_diff,
    )

    a = spark.createDataFrame(
        [(i, f"v{i % 5}") for i in range(200)], "k long, v string"
    )
    assert fingerprint_diff(a, a, "k", ["k", "v"], n_buckets=8).count() == 0
    # duplicate one row in b -> exactly that key's bucket differs
    dup = a.filter(F.col("k") == 7)
    b = a.unionAll(dup)
    d = fingerprint_diff(a, b, "k", ["k", "v"], n_buckets=8).collect()
    assert len(d) == 1
    assert d[0]["n_rows_a"] + 1 == d[0]["n_rows_b"]
    # NULL vs value difference is visible
    c = a.withColumn(
        "v", F.when(F.col("k") == 3, F.lit(None)).otherwise(F.col("v"))
    )
    assert fingerprint_diff(a, c, "k", ["k", "v"], n_buckets=8).count() == 1


def test_weighted_sample_matches_reference_computation(spark):
    """The A-ES selection is a pure function of (seed, ids, weights):
    recompute the exact top-n in plain Python (hashlib md5) and require
    identical membership and order keys; non-positive weights excluded;
    result stable under repartitioning."""
    import hashlib
    import math

    from stock_market_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, (i % 37) + 1) for i in range(500)] + [(900, 0), (901, -5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")

    def key(i, w):
        h = int(hashlib.md5(f"wsamp:{i}".encode()).hexdigest()[:8], 16)
        u = (h + 1) / 4294967296.0
        return round(math.log(u) / w + 1e-9, 9)

    want = sorted(
        ((key(i, w), i) for i, w in rows if w > 0),
        key=lambda t: (-t[0], t[1]),
    )[:50]
    got = weighted_sample(df.repartition(7), "w", 50, id_col="doc_id").collect()
    assert [(r["wkey"], r["doc_id"]) for r in got] == [
        (pytest.approx(k), i) for k, i in want
    ]
    assert not {900, 901} & {r["doc_id"] for r in got}


def test_entity_clusters_composition(spark):
    """Fuzzy pairs -> connected components -> canonical entity; singleton
    blocks survive; counts fold across merged names."""
    from stock_market_data_pipeline_spark.operators.fuzzy import (
        blocked_levenshtein_pairs,
    )
    from stock_market_data_pipeline_spark.operators.neardup import (
        connected_components,
    )

    rows = [
        (1, "red widget"), (2, "rad widget"), (3, "blue widget"),
        (4, "red widget"),  # duplicate row folds into the count
        (5, "red bolt"),    # singleton block
    ]
    df = spark.createDataFrame(rows, "id long, p_name string")
    pairs = blocked_levenshtein_pairs(
        df, "p_name", F.regexp_extract("p_name", "([a-z]+)$", 1), max_dist=4
    )
    cc = connected_components(pairs, a_col="name_a", b_col="name_b")
    dic = df.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ent = (
        dic.join(cc, dic["name"] == cc["node"], "left")
        .select(F.coalesce("cluster_id", "name").alias("entity_id"), "n")
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_names"), F.sum("n").alias("n_parts"))
    )
    out = {r["entity_id"]: (r["n_names"], r["n_parts"]) for r in ent.collect()}
    # widget block chains into ONE entity under min-name "blue widget"
    assert out == {"blue widget": (3, 4), "red bolt": (1, 1)}


def test_time_range_metrics_vs_row_frames(spark):
    """RANGE frames answer 'last 900 event-time seconds', not 'last N
    rows': irregular spacing and exact-boundary inclusion are pinned."""
    from stock_market_data_pipeline_spark.operators.rolling import (
        with_time_range_metrics,
    )

    rows = [
        ("A", "2026-01-01 00:00:00", 10.0),
        ("A", "2026-01-01 00:10:00", 20.0),
        ("A", "2026-01-01 00:15:00", 30.0),  # frame spans 00:00..00:15
        ("A", "2026-01-01 01:00:00", 40.0),  # everything else aged out
        ("B", "2026-01-01 00:00:00", 5.0),   # other key independent
    ]
    df = spark.createDataFrame(
        rows, "symbol string, timestamp string, price double"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    out = {
        (r["symbol"], r["price"]): (r["trail_n"], r["trail_avg"], r["trail_min"])
        for r in with_time_range_metrics(df, seconds=900).collect()
    }
    assert out[("A", 10.0)] == (1, 10.0, 10.0)
    assert out[("A", 20.0)] == (2, 15.0, 10.0)
    # 00:15 is EXACTLY 900s after 00:00 -> inclusive lower bound
    assert out[("A", 30.0)] == (3, 20.0, 10.0)
    assert out[("A", 40.0)] == (1, 40.0, 40.0)
    assert out[("B", 5.0)] == (1, 5.0, 5.0)


def test_ohlcv_tie_rule_matches_oracle_formulation(spark):
    """Review r8 #3: on tied extreme timestamps, Spark's struct min_by and
    the oracle's struct_pack min must agree (lowest open among
    tied-earliest, highest close among tied-latest) — the fixtures have
    no such ties, so this pins the case directly in BOTH engines."""
    import duckdb

    from stock_market_data_pipeline_spark.operators.ohlcv import daily_ohlcv

    rows = [
        ("A", "2026-01-05 09:30:00", 11.0, 1),
        ("A", "2026-01-05 09:30:00", 9.0, 1),
        ("A", "2026-01-05 16:00:00", 20.0, 1),
        ("A", "2026-01-05 16:00:00", 30.0, 1),
    ]
    df = spark.createDataFrame(
        rows, "symbol string, timestamp string, price double, volume long"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    got = daily_ohlcv(df.repartition(4)).first()
    assert (got["daily_open"], got["daily_close"]) == (9.0, 30.0)

    con = duckdb.connect()
    want = con.execute(
        """
        SELECT (min(struct_pack(t := ts, p := p))).p AS daily_open,
               (max(struct_pack(t := ts, p := p))).p AS daily_close
        FROM (VALUES
          (TIMESTAMP '2026-01-05 09:30:00', 11.0),
          (TIMESTAMP '2026-01-05 09:30:00', 9.0),
          (TIMESTAMP '2026-01-05 16:00:00', 20.0),
          (TIMESTAMP '2026-01-05 16:00:00', 30.0)) v(ts, p)
        """
    ).fetchone()
    con.close()
    assert (float(want[0]), float(want[1])) == (9.0, 30.0)
