"""Bucket-level content fingerprints — merkle-style anti-entropy for big
tables.

Comparing two 100 TB copies of a table row-by-row (replica vs replica,
pre- vs post-migration, source vs warehouse) costs a full co-partitioned
join of both. The anti-entropy pattern (Cassandra repair, DynamoDB global
tables) compares SUMMARIES first: hash every row, fold row hashes into an
order-independent per-bucket fingerprint, and only the buckets whose
fingerprints disagree ever get the expensive row-level treatment (e.g.
``sinks/manifest_lake.py:manifest_version_diff`` scoped to those buckets).
The summary pass is one map-side-combined aggregate per table — each side
can even run on a different engine, because the row hash is the
engine-portable md5 form the samplers use.

Fold choice: SUM of 32-bit row hashes (never XOR — XOR cancels duplicate
rows pairwise, so two copies differing by a duplicated row would collide).
Sum over int64 of 500M 32-bit values per bucket stays far from overflow;
row count is carried alongside as a second check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from stock_market_data_pipeline_spark.operators.sampling import sample_hash32

_SEP = "\x1f"  # unit separator: never appears in the rendered values
_NULL = "\x1eN"  # record-separator-prefixed NULL sentinel


def bucket_fingerprints(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 64,
    seed: str = "fp",
) -> DataFrame:
    """Per-bucket content summary of ``cols``: ``bucket``, ``n_rows``,
    ``fp`` (order-independent sum of per-row 32-bit hashes).

    The bucket comes from the portable hash of ``key_col`` so both sides
    of a comparison bucket identically regardless of physical layout.
    ``cols`` should be types with a canonical cross-engine string form
    (integers, strings, dates) — raw doubles render differently across
    engines; scale them to integers first.
    """
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols
    ]
    row_fp = sample_hash32(
        F.concat_ws(_SEP, *rendered), seed=seed
    )
    bucket = sample_hash32(F.col(key_col), seed=f"{seed}:b") % n_buckets
    return (
        df.select(bucket.alias("bucket"), row_fp.alias("_rfp"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_rfp").alias("fp"),
        )
    )


def fingerprint_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 64,
    seed: str = "fp",
) -> DataFrame:
    """Buckets where two tables disagree: full outer join of the two
    fingerprint summaries (≤ ``n_buckets`` rows each — driver-trivial
    regardless of table size) with per-side row counts. A bucket appears
    when its fingerprint or row count differs; equal buckets are dropped,
    so an empty result certifies content equality over ``cols``.

    Output: ``bucket``, ``n_rows_a``, ``n_rows_b``, ``fp_match``.
    """
    fa = bucket_fingerprints(a, key_col, cols, n_buckets, seed).select(
        "bucket",
        F.col("n_rows").alias("n_rows_a"),
        F.col("fp").alias("_fp_a"),
    )
    fb = bucket_fingerprints(b, key_col, cols, n_buckets, seed).select(
        "bucket",
        F.col("n_rows").alias("n_rows_b"),
        F.col("fp").alias("_fp_b"),
    )
    j = fa.join(fb, "bucket", "full_outer")
    return (
        j.withColumn(
            "fp_match", F.col("_fp_a").eqNullSafe(F.col("_fp_b"))
        )
        .filter(
            ~F.col("fp_match")
            | ~F.col("n_rows_a").eqNullSafe(F.col("n_rows_b"))
        )
        .select("bucket", "n_rows_a", "n_rows_b", "fp_match")
    )
