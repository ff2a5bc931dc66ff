"""Skew + scale-growth stress bench (VERDICT r2 #9).

Synthesizes a deliberately skewed tick table — ONE hot symbol owns 50% of
all rows — at 1× (~600k rows, the sf0.1 envelope) and 10× (~6M rows), plus
synthetic document corpora at 30k and 300k docs, then measures:

1. ``windowed_analytics`` at 1× and 10× — wall-time must grow ≤ ~linearly
   (ratio ≤ 10 × slack) despite the hot key, because sliding-window
   aggregation partial-combines map-side and the composite (symbol, window)
   grouping key spreads the hot symbol across reducers.
2. Hot-key aggregation, direct vs ``salted_sum_agg`` — honest result
   expected: for ALGEBRAIC sums Spark's map-side partial aggregation already
   neutralizes key skew (each map task emits one row per key), so direct and
   salted should be comparable; the salted form exists for when partial
   aggregation is ineffective. The bench records both so the claim is
   measured, not asserted from folklore.
3. Hot-key JOIN against a symbol dimension, three ways, broadcast disabled
   so the shuffle actually happens (at 100 TB the dim may not broadcast):
   unmitigated sort-merge (AQE skew-split OFF — one task sorts the hot 50%),
   AQE skew-split ON (Spark's runtime mitigation), and explicit
   ``salted_skew_join``. Expectation: both mitigations beat unmitigated;
   this is where skew actually bites, unlike algebraic aggregation.
4. ``minhash_lsh_pairs`` at 30k and 300k synthetic docs — ≤ ~linear growth
   (shingle explosion and band join are per-doc local; candidate pairs stay
   sparse because the synthetic texts are not near-dups of each other).

Run:  python bench_skew.py            (prints one JSON line, ~2-4 min)
Knobs: SPARK_GRAFT_CPUS (default 32), SKEW_BENCH_SCALE (default 1.0 —
row counts multiply by this; use 0.1 for a quick smoke).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.operators.joins import salted_skew_join
from stock_market_data_pipeline_spark.operators.neardup import minhash_lsh_pairs
from stock_market_data_pipeline_spark.operators.windows import salted_sum_agg
from stock_market_data_pipeline_spark.plans.analytics import windowed_analytics
from stock_market_data_pipeline_spark.session import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE = float(os.environ.get("SKEW_BENCH_SCALE", "1.0"))

BASE_TICKS = int(600_000 * SCALE)
BASE_DOCS = int(30_000 * SCALE)
N_COLD_SYMBOLS = 40
HOT = "HOT"


def synth_skewed_ticks(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic skewed ticks: even ids → the hot symbol (50% of rows),
    odd ids → one of N_COLD_SYMBOLS. One day of per-second timestamps."""
    base_epoch = 1_704_067_200  # 2024-01-01T00:00:00Z
    return spark.range(n_rows).select(
        F.when(F.col("id") % 2 == 0, F.lit(HOT))
        .otherwise(
            F.concat(
                F.lit("S"),
                ((F.col("id") % (2 * N_COLD_SYMBOLS)) / 2).cast("int"),
            )
        )
        .alias("symbol"),
        (100.0 + F.pmod(F.xxhash64("id"), 10_000) / 100.0).alias("price"),
        (1_000 + F.pmod(F.xxhash64("id", F.lit(1)), 9_000)).alias("volume"),
        F.timestamp_seconds(
            F.lit(base_epoch) + F.pmod(F.col("id"), 86_400)
        ).alias("timestamp"),
        F.col("id"),
    )


def synth_docs(spark: SparkSession, n_docs: int, words_per_doc: int = 40) -> DataFrame:
    """Deterministic synthetic corpus: each doc is words_per_doc tokens drawn
    from a 500-word vocab by hash(doc_id, position) — docs are NOT near-dups
    of each other, so LSH candidate pairs stay sparse and growth measures the
    per-doc pipeline (shingle → minhash → band join), not pair explosion."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(words_per_doc)),
                lambda j: F.concat(
                    F.lit("w"), F.pmod(F.xxhash64(F.col("id") * 1000 + j), 500)
                ),
            ),
        ).alias("text"),
    )


def synth_embeddings(spark: SparkSession, n_vecs: int, dim: int = 64) -> DataFrame:
    """Deterministic synthetic embeddings: component j of vector i is a
    hash-derived value in [-1, 1) — spread out enough that cells stay
    balanced and near-dup pairs are sparse, so growth measures the
    assign + cell-join machinery, not pair explosion."""
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id") * 131 + j), 2000) / 1000.0 - 1.0
            ),
        ).alias("embedding"),
    )


def timed(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    spark = get_spark(
        "bench-skew", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    results: dict = {"metric": "skew_bench", "cpus": CPUS, "scale": SCALE}

    ticks_1x = synth_skewed_ticks(spark, BASE_TICKS).localCheckpoint()
    ticks_10x = synth_skewed_ticks(spark, BASE_TICKS * 10).localCheckpoint()
    docs_1x = synth_docs(spark, BASE_DOCS).localCheckpoint()
    docs_10x = synth_docs(spark, BASE_DOCS * 10).localCheckpoint()

    # Warm up JIT/codegen paths so the 1× measurements aren't first-run noise.
    timed(windowed_analytics(ticks_1x))

    # 1. windowed analytics linear growth under skew
    t1 = timed(windowed_analytics(ticks_1x))
    t10 = timed(windowed_analytics(ticks_10x))
    results["windowed_analytics"] = {
        "rows_1x": BASE_TICKS,
        "sec_1x": t1,
        "sec_10x": t10,
        "growth_ratio": round(t10 / t1, 2),
        "linear_ok": t10 <= t1 * 10 * 1.6,
    }

    # 2. hot-key aggregation: direct vs salted (algebraic sums)
    def direct_agg(df):
        return df.groupBy("symbol").agg(
            F.sum("volume").alias("volume_sum"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    timed(direct_agg(ticks_10x))  # warm
    t_direct = timed(direct_agg(ticks_10x))
    t_salted = timed(
        salted_sum_agg(
            ticks_10x,
            keys=["symbol"],
            sums={"volume_sum": "volume"},
            salt_src="id",
            buckets=32,
        )
    )
    direct_rows = {
        r["symbol"]: r["volume_sum"] for r in direct_agg(ticks_10x).collect()
    }
    salted_rows = {
        r["symbol"]: r["volume_sum"]
        for r in salted_sum_agg(
            ticks_10x, ["symbol"], {"volume_sum": "volume"}, "id", 32
        ).collect()
    }
    results["hot_key_agg"] = {
        "rows": BASE_TICKS * 10,
        "sec_direct": t_direct,
        "sec_salted": t_salted,
        "results_equal": direct_rows == salted_rows,
        "note": "algebraic sums partial-combine map-side; direct is expected "
        "to be fine under key skew — salting targets non-combining paths",
    }

    # 3. hot-key join vs symbol dimension, broadcast disabled
    dim = spark.createDataFrame(
        [(HOT, "hot_sector")]
        + [(f"S{i}", f"sector_{i % 5}") for i in range(N_COLD_SYMBOLS)],
        ["symbol", "sector"],
    ).localCheckpoint()

    def with_conf(pairs: dict[str, str], fn):
        old = {k: spark.conf.get(k, None) for k in pairs}
        for k, v in pairs.items():
            spark.conf.set(k, v)
        try:
            return fn()
        finally:
            for k, v in old.items():
                if v is not None:
                    spark.conf.set(k, v)

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    t_unmitigated = with_conf(
        {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
        lambda: timed(ticks_10x.join(dim, "symbol")),
    )
    t_aqe = with_conf(
        {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "true"},
        lambda: timed(ticks_10x.join(dim, "symbol")),
    )
    t_salted_join = with_conf(
        {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
        lambda: timed(salted_skew_join(ticks_10x, dim, "symbol", buckets=32)),
    )
    n_direct = ticks_10x.join(dim, "symbol").count()
    n_salted = salted_skew_join(ticks_10x, dim, "symbol", buckets=32).count()
    results["hot_key_join"] = {
        "rows": BASE_TICKS * 10,
        "sec_unmitigated_smj": t_unmitigated,
        "sec_aqe_skew_split": t_aqe,
        "sec_salted_join": t_salted_join,
        "rows_equal": n_direct == n_salted,
        "salted_beats_unmitigated": t_salted_join < t_unmitigated,
        "aqe_beats_unmitigated": t_aqe < t_unmitigated,
    }

    # 4. minhash LSH linear growth
    timed(minhash_lsh_pairs(docs_1x))  # warm
    m1 = timed(minhash_lsh_pairs(docs_1x))
    m10 = timed(minhash_lsh_pairs(docs_10x))
    results["minhash_lsh_pairs"] = {
        "docs_1x": BASE_DOCS,
        "sec_1x": m1,
        "sec_10x": m10,
        "growth_ratio": round(m10 / m1, 2),
        "linear_ok": m10 <= m1 * 10 * 1.6,
    }

    # 5. n-gram decontamination growth (round-4 operator): train side grows
    # 10×, the eval/broadcast side stays a constant 5% slice — growth must be
    # ~linear because the corpus only ever shuffles on (doc_id, shingle).
    from stock_market_data_pipeline_spark.operators.decontam import (
        ngram_decontaminate,
    )
    from stock_market_data_pipeline_spark.operators.textstats import (
        unigram_logprob,
    )

    def _decontam(docs):
        return ngram_decontaminate(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
        )

    timed(_decontam(docs_1x))  # warm
    d1 = timed(_decontam(docs_1x))
    d10 = timed(_decontam(docs_10x))
    results["ngram_decontaminate"] = {
        "docs_1x": BASE_DOCS,
        "sec_1x": d1,
        "sec_10x": d10,
        "growth_ratio": round(d10 / d1, 2),
        "linear_ok": d10 <= d1 * 10 * 1.6,
    }

    # 6. unigram-LM scoring growth: token explode + vocab agg + broadcast
    # join back; vocab is capped by the synthetic 500-word space, so growth
    # is pure data-side scan/agg.
    timed(unigram_logprob(docs_1x))  # warm
    u1 = timed(unigram_logprob(docs_1x))
    u10 = timed(unigram_logprob(docs_10x))
    results["unigram_logprob"] = {
        "docs_1x": BASE_DOCS,
        "sec_1x": u1,
        "sec_10x": u10,
        "growth_ratio": round(u10 / u1, 2),
        "linear_ok": u10 <= u1 * 10 * 1.6,
    }

    # 7. sequence packing growth (round-5): per-shard cumsum — growth must be
    # ~linear in docs (shard count fixed, window partitions grow in rows only).
    from stock_market_data_pipeline_spark.operators.packing import pack_sequences

    def _pack(docs):
        return pack_sequences(docs, budget=512, n_shards=64)

    timed(_pack(docs_1x))  # warm
    p1 = timed(_pack(docs_1x))
    p10 = timed(_pack(docs_10x))
    results["sequence_packing"] = {
        "docs_1x": BASE_DOCS,
        "sec_1x": p1,
        "sec_10x": p10,
        "growth_ratio": round(p10 / p1, 2),
        "linear_ok": p10 <= p1 * 10 * 1.6,
    }

    # 8. semantic dedup growth (round-5): cell assignment is O(n·n_cells);
    # the within-cell pairwise stage is quadratic PER CELL, so scaling
    # n_cells with the corpus (64 → 640) holds E[cell²] per-cell bounded —
    # the documented operating rule at 100 TB. Measured with that rule
    # applied: growth should stay ~linear.
    from stock_market_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb_1x = synth_embeddings(spark, BASE_DOCS)
    emb_10x = synth_embeddings(spark, BASE_DOCS * 10)
    timed(semantic_dedup(emb_1x, n_cells=64, tau=0.35))  # warm
    s1 = timed(semantic_dedup(emb_1x, n_cells=64, tau=0.35))
    s10 = timed(semantic_dedup(emb_10x, n_cells=640, tau=0.35))
    results["semantic_dedup"] = {
        "docs_1x": BASE_DOCS,
        "sec_1x": s1,
        "sec_10x": s10,
        "growth_ratio": round(s10 / s1, 2),
        "linear_ok": s10 <= s1 * 10 * 1.6,
    }

    # 9. hot-node pagerank (round-6 probe): one node in 50% of all edges.
    # Iterations shuffle contributions keyed by dst — the hot node's in-edges
    # concentrate on one reducer, but each contribution row is ~16 bytes and
    # the per-dst SUM partial-combines map-side, so the hot reducer receives
    # O(#map-tasks) partial rows, not O(hot-degree) rows. Growth should stay
    # ~linear; this measures that claim instead of asserting it.
    from stock_market_data_pipeline_spark.operators.graph import pagerank

    def synth_hot_edges(n_edges: int) -> DataFrame:
        return spark.range(n_edges).select(
            F.when(F.col("id") % 4 == 0, F.lit(0))  # hot as src: 25%
            .otherwise(F.pmod(F.xxhash64("id"), 10_000))
            .cast("long")
            .alias("src"),
            F.when(F.col("id") % 4 == 1, F.lit(0))  # hot as dst: 25%
            .otherwise(F.pmod(F.xxhash64("id", F.lit(7)), 10_000))
            .cast("long")
            .alias("dst"),
        )

    edges_1x = synth_hot_edges(200_000).localCheckpoint()
    edges_10x = synth_hot_edges(2_000_000).localCheckpoint()
    timed(pagerank(edges_1x, n_iter=3))  # warm
    g1 = timed(pagerank(edges_1x, n_iter=3))
    g10 = timed(pagerank(edges_10x, n_iter=3))
    results["hot_node_pagerank"] = {
        "edges_1x": 200_000,
        "hot_share": 0.5,
        "sec_1x": g1,
        "sec_10x": g10,
        "growth_ratio": round(g10 / g1, 2),
        "linear_ok": g10 <= g1 * 10 * 1.6,
    }

    # 10. dense-overlap interval join (round-6 probe): 10% of left intervals
    # span the WHOLE day, so they explode to every bin and every such row
    # pairs with every right window — output itself is the quadratic term.
    # Recorded: runtime, output rows, and output-normalized throughput; the
    # scale guard is that cost tracks OUTPUT size (irreducible), not an
    # all-pairs comparison count.
    from stock_market_data_pipeline_spark.operators.joins import interval_join

    def synth_intervals(n_left: int):
        base = 1_704_067_200
        left = spark.range(n_left).select(
            F.col("id").alias("l_id"),
            F.timestamp_seconds(
                base + F.pmod(F.xxhash64("id"), 86_400)
            ).alias("l_start"),
            F.timestamp_seconds(
                base
                + F.pmod(F.xxhash64("id"), 86_400)
                + F.when(F.col("id") % 10 == 0, 86_400)  # 10% day-spanners
                .otherwise(F.pmod(F.xxhash64("id", F.lit(3)), 3_600))
            ).alias("l_end"),
        )
        right = spark.range(96).select(
            F.col("id").alias("r_id"),
            F.timestamp_seconds(base + F.col("id") * 900).alias("r_start"),
            F.timestamp_seconds(base + F.col("id") * 900 + 899).alias("r_end"),
        )
        return left, right

    def _ij(n):
        l, r = synth_intervals(n)
        return interval_join(
            l, r, "l_start", "l_end", "r_start", "r_end", bin_seconds=900
        )

    timed(_ij(20_000))  # warm
    i1 = timed(_ij(20_000))
    i10 = timed(_ij(200_000))
    out_1x = _ij(20_000).count()
    out_10x = _ij(200_000).count()
    results["dense_interval_join"] = {
        "left_1x": 20_000,
        "out_rows_1x": out_1x,
        "out_rows_10x": out_10x,
        "sec_1x": i1,
        "sec_10x": i10,
        "growth_ratio": round(i10 / i1, 2),
        "output_growth": round(out_10x / out_1x, 2),
        "per_output_row_ok": (i10 / out_10x) <= (i1 / out_1x) * 1.6,
    }

    # 11. giant-cell semantic dedup (round-6 probe): every vector is a small
    # perturbation of ONE direction, so IVF assignment puts ~everything in a
    # single cell and the per-cell Gram is O(n²) — the documented worst case.
    # 3× growth should show ~9× cost (quadratic), quantifying what breaks
    # first and why the n_cells-scaling rule (and a per-cell size cap) is the
    # operating requirement, not an optimization.
    def synth_clustered(n_vecs: int, dim: int = 64) -> DataFrame:
        return spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda j: (
                    F.lit(1.0)
                    + F.pmod(F.xxhash64(F.col("id") * 131 + j), 100) / 5000.0
                ),
            ).alias("embedding"),
        )

    giant_1x = synth_clustered(5_000).localCheckpoint()
    giant_3x = synth_clustered(15_000).localCheckpoint()
    timed(semantic_dedup(giant_1x, n_cells=64, tau=0.9))  # warm
    c1 = timed(semantic_dedup(giant_1x, n_cells=64, tau=0.9))
    c3 = timed(semantic_dedup(giant_3x, n_cells=64, tau=0.9))
    results["giant_cell_semantic_dedup"] = {
        "vecs_1x": 5_000,
        "vecs_3x": 15_000,
        "sec_1x": c1,
        "sec_3x": c3,
        "growth_ratio": round(c3 / c1, 2),
        "note": "all vectors collapse to one IVF cell -> per-cell Gram is "
        "O(n^2); quantifies the documented worst case the n_cells rule and "
        "per-cell caps exist for",
    }

    # 12. quantized-rerank ANN at the 10× probe (r5 verdict #8): recall@5 vs
    # exact ground truth must hold off the toy scale, and runtime should
    # scale ~linearly in corpus size (bandwidth-bound shortlist scan).
    from stock_market_data_pipeline_spark.operators.similarity import (
        cosine_topk_vectorized,
        quantized_topk_rerank,
    )

    def ann_recall_at(n_vecs: int) -> tuple[float, float, float]:
        corpus = synth_embeddings(spark, n_vecs).localCheckpoint()
        qs = corpus.filter(F.col("vec_id") % (n_vecs // 100) == 0)
        timed(quantized_topk_rerank(corpus, qs))  # warm
        t_ann = timed(quantized_topk_rerank(corpus, qs))
        gt = cosine_topk_vectorized(corpus, qs).select("query_id", "neighbor_id")
        approx = quantized_topk_rerank(corpus, qs).select(
            "query_id", "neighbor_id"
        )
        total = gt.count()
        hits = approx.join(gt, ["query_id", "neighbor_id"]).count()
        return round(hits / total, 4), t_ann, total

    r30, t30, n30 = ann_recall_at(30_000)
    r300, t300, n300 = ann_recall_at(300_000)
    results["quantized_rerank_10x"] = {
        "recall_at5_30k": r30,
        "recall_at5_300k": r300,
        "sec_30k": t30,
        "sec_300k": t300,
        "growth_ratio": round(t300 / t30, 2),
        "gt_pairs_30k": n30,
        "gt_pairs_300k": n300,
        "recall_ok": r300 >= 0.9,
    }

    # ---- round-7 probe: line_dedup with a universal boilerplate line ----
    # EVERY doc carries the same footer line (the hottest possible
    # fingerprint: doc-freq = n_docs) plus unique 3-word lines. The freq
    # table above threshold stays tiny (one hot row + noise), so Spark
    # broadcasts the boilerplate set and the hot fingerprint never skews a
    # shuffle — growth must track corpus size, not the hot line.
    from stock_market_data_pipeline_spark.operators.dedup import line_dedup

    def synth_boiler_docs(n_docs: int) -> DataFrame:
        uniq = F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(1), F.lit(10)),
                lambda j: F.concat(
                    F.lit("u"), F.pmod(F.xxhash64(F.col("id") * 37 + j), 1 << 40),
                    F.lit(" mid tail"),
                ),
            ),
        )
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat(uniq, F.lit("\n(c) corp all rights reserved")).alias("text"),
        )

    def _ld(n: int) -> tuple[float, int]:
        docs = synth_boiler_docs(n).localCheckpoint()
        timed(line_dedup(docs, min_docs=5))  # warm
        t = timed(line_dedup(docs, min_docs=5))
        removed = (
            line_dedup(docs, min_docs=5)
            .agg(F.sum("n_removed").alias("s"))
            .first()["s"]
        )
        return t, int(removed)

    t30, rem30 = _ld(BASE_DOCS)
    t300, rem300 = _ld(BASE_DOCS * 10)
    results["line_dedup_hot_fingerprint_10x"] = {
        "sec_30k": t30,
        "sec_300k": t300,
        "growth_ratio": round(t300 / t30, 2),
        "removed_30k": rem30,
        "removed_300k": rem300,
        "every_doc_hit": rem300 >= BASE_DOCS * 10,  # footer stripped everywhere
        "growth_ok": t300 / t30 <= 10 * 2.0,
    }

    # ---- round-7 probe: bucketed CDC fold cost is O(touched buckets) ----
    # A constant 5-key batch merges into a 256-bucket table at 1x and 10x
    # rows. If the fold were O(table) the 10x merge would cost ~10x; with
    # touched-bucket reads (only the touched buckets' manifest entries are
    # opened) it must stay near-flat.
    import shutil as _shutil
    import tempfile as _tempfile

    from stock_market_data_pipeline_spark.operators.cdc import changelog_winners
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
    )

    def _cdc_fold_sec(n_rows: int) -> float:
        root = _tempfile.mkdtemp(prefix="smdp_skew_cdc_")
        try:
            seed = spark.range(n_rows).select(
                F.col("id").alias("k"),
                F.col("id").alias("seq"),
                F.lit("upsert").alias("op"),
                (F.col("id") % 997).cast("double").alias("v"),
            )
            reducer = lambda df: changelog_winners(  # noqa: E731
                df, ["k"], "seq", op_col="op", delete_op="delete"
            )
            merge_upsert_manifest(
                spark, seed, root, keys=["k"], order_col="seq",
                n_buckets=256, reducer=reducer,
            )
            batch = spark.range(5).select(
                (F.col("id") * 31).alias("k"),
                F.lit(10_000_000_000).alias("seq"),
                F.lit("upsert").alias("op"),
                F.lit(1.5).alias("v"),
            )
            t0 = time.perf_counter()
            touched = merge_upsert_manifest(
                spark, batch, root, keys=["k"], order_col="seq",
                n_buckets=256, reducer=reducer,
            )["touched_buckets"]
            t = round(time.perf_counter() - t0, 3)
            assert touched <= 5
            return t
        finally:
            _shutil.rmtree(root, ignore_errors=True)

    c1 = _cdc_fold_sec(BASE_TICKS)
    c10 = _cdc_fold_sec(BASE_TICKS * 10)
    results["bucketed_cdc_fold_10x"] = {
        "sec_1x_table": c1,
        "sec_10x_table": c10,
        "growth_ratio": round(c10 / c1, 2),
        "flat_ok": c10 / c1 <= 3.0,  # near-flat, far from the 10x of O(table)
    }

    print(json.dumps(results))


if __name__ == "__main__":
    main()
