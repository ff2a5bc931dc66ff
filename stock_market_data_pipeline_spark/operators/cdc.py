"""Changelog application (CDC apply): fold an insert/update/delete event
stream into final table state — the lakehouse half of every CDC ingestion
pipeline (Debezium → lake, warehouse streams, Delta CDF application).

Semantics: per key, the operation with the greatest (seq, tiebreak) wins;
a final ``delete`` removes the key entirely, anything else surfaces the
winning row's values. This is exactly the keep-last MERGE discipline the
warehouse/lake sinks implement, expressed as a pure operator so it can run
ahead of any sink (or inside foreachBatch on a stream).

Scale shape: ONE shuffle keyed by the primary key; the window computes the
winner without a self-join; no driver participation. At 100 TB the input
is naturally the recent changelog partition, not the whole history —
compose with the keyed MERGE (``merge_upsert_manifest``) for the
table-sized fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def changelog_winners(
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """One row per key: the operation that wins under (seq desc,
    delete-first, value-columns desc) ordering — ``op_col`` retained so
    callers folding into existing state can treat delete winners as
    tombstones. The building block of :func:`apply_changelog` and the
    streaming fold (``streaming/pipeline.py:stream_apply_changelog``).
    """
    others = [c for c in changes.columns if c not in (*keys, seq_col, op_col)]
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        (F.col(op_col) == delete_op).cast("int").desc(),
        *[F.col(c).desc_nulls_last() for c in others],
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changelog(
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Final state after applying ``changes`` in ``seq_col`` order per key.

    Ties on (keys, seq) resolve by preferring the delete (a delete and an
    upsert carrying the same sequence number is producer misbehavior; the
    destructive op winning is the conservative, replay-stable choice), then
    by the remaining value columns for full determinism. Output drops the
    op/seq bookkeeping and keeps one row per surviving key.
    """
    winners = changelog_winners(
        changes, keys, seq_col, op_col=op_col, delete_op=delete_op
    )
    return winners.filter(F.col(op_col) != delete_op).drop(op_col)


def read_cdc_state(
    spark,
    table_root: str,
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Live rows of the manifest table materialized by
    ``streaming/pipeline.py:stream_apply_changelog``.

    The stored table keeps ``op_col``/``seq_col`` bookkeeping so folds stay
    seq-aware across micro-batches (tombstones persist as rows); this
    reader hides that: read the latest committed version, drop tombstone
    rows and the op column. The sequence column stays — it is real data
    (the row's version).
    """
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        read_manifest,
    )

    df = read_manifest(spark, table_root)
    return df.filter(F.col(op_col) != delete_op).drop(op_col)
