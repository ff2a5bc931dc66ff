"""Warehouse stage+MERGE egress: generated SQL shape (Snowflake dialect) and
executed semantics (DuckDB / SQLite as stand-in warehouses), proven equal to
the lake-side keyed MERGE's (``merge_upsert_manifest``) last-writer-wins."""

from __future__ import annotations

import datetime
import sqlite3

import duckdb
import pytest

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    merge_upsert_manifest,
    read_manifest,
)
from stock_market_data_pipeline_spark.sinks.warehouse import (
    DUCKDB,
    SNOWFLAKE,
    SQLITE,
    SqliteCursorFactory,
    build_merge_plan,
    merge_to_warehouse,
    sql_type,
)

DAILY_SCHEMA = (
    "symbol string, date date, daily_open double, daily_close double, "
    "last_updated timestamp"
)


def _daily(spark, rows):
    return spark.createDataFrame(
        [
            (
                s,
                datetime.date.fromisoformat(d),
                o,
                c,
                datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
                + datetime.timedelta(hours=u),
            )
            for (s, d, o, c, u) in rows
        ],
        DAILY_SCHEMA,
    )


def test_snowflake_merge_sql_shape(spark):
    df = _daily(spark, [("AAPL", "2024-01-02", 1.0, 2.0, 0)])
    plan = build_merge_plan("DAILY_STOCK_METRICS", df.schema, ["symbol", "date"])
    assert "CREATE TABLE IF NOT EXISTS DAILY_STOCK_METRICS" in plan.create_table
    assert "PRIMARY KEY (symbol, date)" in plan.create_table
    assert "symbol VARCHAR" in plan.create_table and "date DATE" in plan.create_table
    assert plan.create_stage == (
        "CREATE OR REPLACE TEMPORARY TABLE DAILY_STOCK_METRICS_STAGE "
        "LIKE DAILY_STOCK_METRICS",
    )
    assert plan.insert.count("%s") == 5 and "?" not in plan.insert
    (merge,) = plan.merge
    assert "MERGE INTO DAILY_STOCK_METRICS AS target" in merge
    # source is SELECT DISTINCT over the stage (at-least-once task retries
    # duplicate stage rows verbatim; DISTINCT restores <=1 row per key)
    assert "USING (SELECT DISTINCT" in merge
    assert "FROM DAILY_STOCK_METRICS_STAGE) AS source" in merge
    assert "ON target.symbol = source.symbol AND target.date = source.date" in merge
    # every non-key column updated, no key column updated
    assert "target.daily_open = source.daily_open" in merge
    assert "target.daily_close = source.daily_close" in merge
    assert "target.last_updated = source.last_updated" in merge
    assert "target.symbol = source.symbol," not in merge
    assert "WHEN NOT MATCHED THEN" in merge
    assert "VALUES (source.symbol, source.date" in merge


def test_sql_type_mapping():
    from pyspark.sql import types as T

    assert sql_type(T.DecimalType(25, 10)) == "DECIMAL(25,10)"
    assert sql_type(T.LongType()) == "BIGINT"
    assert sql_type(T.BinaryType()) == "BLOB"
    with pytest.raises(TypeError):
        sql_type(T.ArrayType(T.DoubleType()))


class _DuckCursor:
    """cursor_factory adapter: one shared in-memory DuckDB connection."""

    def __init__(self, con):
        self.con = con

    def execute(self, sql):
        self.con.execute(sql)

    def executemany(self, sql, rows):
        self.con.executemany(sql, rows)

    def commit(self):
        self.con.commit()


def test_duckdb_merge_matches_lake_merge_upsert(spark, tmp_path):
    batch1 = _daily(
        spark,
        [
            ("AAPL", "2024-01-02", 1.0, 2.0, 0),
            ("AAPL", "2024-01-03", 3.0, 4.0, 0),
            ("MSFT", "2024-01-02", 5.0, 6.0, 0),
        ],
    )
    batch2 = _daily(
        spark,
        [
            ("AAPL", "2024-01-03", 3.5, 4.5, 1),  # update
            ("GOOG", "2024-01-02", 7.0, 8.0, 1),  # insert
            ("GOOG", "2024-01-02", 7.5, 8.5, 2),  # same-batch dup: keep-last
        ],
    )

    con = duckdb.connect()
    for b in (batch1, batch2):
        merge_to_warehouse(
            b,
            lambda: _DuckCursor(con),
            "daily_metrics",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=DUCKDB,
            stage_via="driver",
        )
    warehouse = {
        (r[0], r[1]): r[2:4]
        for r in con.execute("SELECT * FROM daily_metrics").fetchall()
    }

    lake = str(tmp_path / "lake_merge")
    for b in (batch1, batch2):
        merge_upsert_manifest(
            spark, b, lake, keys=["symbol", "date"], order_col="last_updated"
        )
    lake_rows = {
        (r.symbol, r.date): (r.daily_open, r.daily_close)
        for r in read_manifest(spark, lake).collect()
    }

    assert warehouse == lake_rows
    assert warehouse[("AAPL", datetime.date(2024, 1, 3))] == (3.5, 4.5)
    assert warehouse[("GOOG", datetime.date(2024, 1, 2))] == (7.5, 8.5)


def test_duckdb_merge_idempotent(spark):
    batch = _daily(spark, [("AAPL", "2024-01-02", 1.0, 2.0, 0)])
    con = duckdb.connect()
    for _ in range(2):
        merge_to_warehouse(
            batch,
            lambda: _DuckCursor(con),
            "t",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=DUCKDB,
            stage_via="driver",
        )
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 1


def test_duplicate_keys_without_order_col_raise(spark):
    df = _daily(
        spark,
        [("AAPL", "2024-01-02", 1.0, 2.0, 0), ("AAPL", "2024-01-02", 9.0, 9.0, 1)],
    )
    con = duckdb.connect()
    with pytest.raises(ValueError, match="duplicate primary keys"):
        merge_to_warehouse(
            df,
            lambda: _DuckCursor(con),
            "t",
            ["symbol", "date"],
            dialect=DUCKDB,
            stage_via="driver",
        )


def test_sqlite_executor_staging_path(spark, tmp_path):
    # The scale path: stage rows land via one connection per partition
    # (foreachPartition), then one set-based merge on the driver connection.
    db = str(tmp_path / "wh.sqlite")
    df = (
        spark.range(100)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).cast("double").alias("v"),
            F.col("id").alias("updated"),
        )
        .repartition(4)
    )
    plan = merge_to_warehouse(
        df,
        SqliteCursorFactory(db),
        "kv",
        ["k"],
        order_col="updated",
        dialect=SQLITE,
        stage_via="executors",
        batch_size=16,
    )
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM kv").fetchone()[0] == 100
    assert con.execute("SELECT v FROM kv WHERE k = 7").fetchone()[0] == 14.0
    # permanent stage table must be cleaned up after the merge
    assert (
        con.execute(
            "SELECT count(*) FROM sqlite_master WHERE name = ?", (plan.stage_table,)
        ).fetchone()[0]
        == 0
    )
    # second load updates in place
    df2 = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(-1.0).alias("v"),
        (F.col("id") + 1000).alias("updated"),
    )
    merge_to_warehouse(
        df2,
        SqliteCursorFactory(db),
        "kv",
        ["k"],
        order_col="updated",
        dialect=SQLITE,
        stage_via="executors",
    )
    assert con.execute("SELECT count(*) FROM kv").fetchone()[0] == 100
    assert con.execute("SELECT v FROM kv WHERE k = 3").fetchone()[0] == -1.0
    assert con.execute("SELECT v FROM kv WHERE k = 50").fetchone()[0] == 100.0


def test_merge_tolerates_duplicated_stage_rows(tmp_path):
    """Simulated task retry: the same row staged twice must still merge to
    one target row (DISTINCT source restores the <=1-per-key invariant)."""
    import sqlite3

    from pyspark.sql import types as T

    from stock_market_data_pipeline_spark.sinks.warehouse import (
        SQLITE,
        build_merge_plan,
    )

    schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    plan = build_merge_plan("t", schema, ["symbol"], dialect=SQLITE, temp_stage=False)
    con = sqlite3.connect(str(tmp_path / "wh.db"))
    cur = con.cursor()
    cur.execute(plan.create_table)
    for stmt in plan.create_stage:
        cur.execute(stmt)
    # retry scenario: identical row inserted twice into the stage
    cur.executemany(plan.insert, [("AAPL", 10.0), ("AAPL", 10.0)])
    for stmt in plan.merge:
        cur.execute(stmt)
    con.commit()
    rows = cur.execute("SELECT symbol, price FROM t").fetchall()
    assert rows == [("AAPL", 10.0)]


def test_copy_mode_matches_executemany_mode(spark, tmp_path):
    """The bulk path (parquet stage + read_parquet ingestion) must produce
    byte-identical warehouse state to the row-wise executemany path across
    an initial load + an upsert batch (the verdict's e2e contract)."""
    batch1 = _daily(
        spark,
        [
            ("AAPL", "2024-01-02", 1.0, 2.0, 0),
            ("AAPL", "2024-01-03", 3.0, 4.0, 0),
            ("MSFT", "2024-01-02", 5.0, 6.0, 0),
        ],
    )
    batch2 = _daily(
        spark,
        [
            ("AAPL", "2024-01-03", 3.5, 4.5, 1),  # update
            ("GOOG", "2024-01-02", 7.0, 8.0, 1),  # insert
            ("GOOG", "2024-01-02", 7.5, 8.5, 2),  # same-batch dup: keep-last
        ],
    )

    def load(stage_via):
        con = duckdb.connect()
        for i, b in enumerate((batch1, batch2)):
            kwargs = {"stage_via": stage_via}
            if stage_via == "copy":
                kwargs["copy_path"] = str(tmp_path / f"stage_{stage_via}_{i}")
            merge_to_warehouse(
                b,
                lambda: _DuckCursor(con),
                "daily_metrics",
                ["symbol", "date"],
                order_col="last_updated",
                dialect=DUCKDB,
                **kwargs,
            )
        return sorted(
            con.execute(
                "SELECT symbol, date, daily_open, daily_close FROM daily_metrics"
            ).fetchall()
        )

    assert load("copy") == load("driver")
    got = dict(((s, d), (o, c)) for s, d, o, c in load("copy"))
    assert got[("AAPL", datetime.date(2024, 1, 3))] == (3.5, 4.5)
    assert got[("GOOG", datetime.date(2024, 1, 2))] == (7.5, 8.5)


def test_copy_mode_idempotent_rerun(spark, tmp_path):
    con = duckdb.connect()
    batch = _daily(spark, [("AAPL", "2024-01-02", 1.0, 2.0, 0)])
    for _ in range(2):
        merge_to_warehouse(
            batch,
            lambda: _DuckCursor(con),
            "t",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=DUCKDB,
            stage_via="copy",
            copy_path=str(tmp_path / "stage"),
        )
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 1


def test_copy_plan_snowflake_statement_shape():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    plan = build_merge_plan(
        "t", schema, ["symbol"], dialect=SNOWFLAKE, copy_path="@my_stage/daily"
    )
    assert plan.copy == (
        "COPY INTO t_STAGE FROM '@my_stage/daily' "
        "FILE_FORMAT = (TYPE = PARQUET) "
        "MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE",
    )


def test_copy_mode_refused_without_file_ingestion(spark, tmp_path):
    batch = _daily(spark, [("AAPL", "2024-01-02", 1.0, 2.0, 0)])
    with pytest.raises(ValueError, match="no file-ingestion statement"):
        merge_to_warehouse(
            batch,
            SqliteCursorFactory(str(tmp_path / "wh.db")),
            "t",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=SQLITE,
            stage_via="copy",
            copy_path=str(tmp_path / "stage"),
        )
    with pytest.raises(ValueError, match="requires copy_path"):
        merge_to_warehouse(
            batch,
            SqliteCursorFactory(str(tmp_path / "wh.db")),
            "t",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=SQLITE,
            stage_via="copy",
        )


def test_executor_staging_rejects_unpicklable_factory(spark):
    con = duckdb.connect()
    batch = _daily(spark, [("AAPL", "2024-01-02", 1.0, 2.0, 0)])
    with pytest.raises(ValueError, match="picklable cursor_factory"):
        merge_to_warehouse(
            batch,
            lambda: _DuckCursor(con),  # closure over a live connection
            "t",
            ["symbol", "date"],
            order_col="last_updated",
            dialect=DUCKDB,
            # default stage_via='executors'
        )
