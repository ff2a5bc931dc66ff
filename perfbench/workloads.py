"""The workloads. Each one generates its inputs, warms its own code paths,
runs closed-loop rounds of the same operations (one caller; the next call
starts when the previous one returns), and checks the outputs outside the
timed region.

Every workload reports the same metric names; what ``op`` and ``read`` mean
is per workload:

=================  ==============================  ==========================
workload           op (``op_p50_s``)               read (``read_p50_s``)
=================  ==============================  ==========================
batch_analytics    one pass of the four queries    full scan of the history
stream_ingest      one micro-batch (trigger time)  one ``manifest_stream``
                                                   follower lifecycle
=================  ==============================  ==========================
"""

from __future__ import annotations

import os
import sys
import traceback
from dataclasses import dataclass, field
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen
import spans


@dataclass
class Ctx:
    spark: object
    rec: spans.Recorder
    tmp: str
    rng: np.random.Generator
    seconds: float


@dataclass
class Result:
    op_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    rows: int = 0  # rows through the timed ops
    rows_wall_s: float = 0.0  # wall time those rows took
    by_name: dict[str, list[float]] = field(default_factory=dict)
    op_spans: list[dict] = field(default_factory=list)
    read_spans: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def op_p50_s(self) -> float:
        """The median op time. Where ops are passes over named queries, the
        sum of the queries' own medians, so that one slow call in a pass
        does not move the figure."""
        if self.by_name:
            return sum(median(v) for v in self.by_name.values())
        return median(self.op_s)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _sum_spans(parts: list[dict]) -> dict:
    """One span whose job fields are the sums over ``parts``."""
    out = {k: sum(s[k] for s in parts) for k in spans.JOB_FIELDS}
    out["wall_s"] = sum(s["wall_s"] for s in parts)
    return out


def _table_layers(spark, root: str) -> dict:
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        manifest_history,
    )
    files, size = _dir_usage(root)
    live = manifest_history(spark, root)[0]["total_bytes"]
    return {"table.files_on_disk": float(files),
            "table.bytes_on_disk": float(size),
            "table.write_amp": size / live}


# batch_analytics builds no table
NO_TABLE = {"table.files_on_disk": 0.0, "table.bytes_on_disk": 0.0,
            "table.write_amp": 0.0}


def _count(seconds: float, per_second: float) -> int:
    """How many rounds a run of ``seconds`` makes, at least two. The count
    depends on ``--seconds`` only, never on how fast this host is, so every
    run of a workload attempts the same operations."""
    return max(2, round(seconds * per_second))


def _failed(res: Result, what: str) -> None:
    """Count the operation that raised as attempted and failed."""
    res.attempted += 1
    res.failed += 1
    print(f"operation failed: {what}", file=sys.stderr)
    traceback.print_exc()


# -- batch_analytics ---------------------------------------------------------

class BatchAnalytics:
    """Tick history through the four analytics queries to a noop sink."""

    N_TICKS = 40_000
    N_SYMBOLS = 32
    DAYS = 5
    ZIPF_S = 1.1
    OOO_SHARE = 0.05
    N_FILES = 4
    N_SAMPLED_SYMBOLS = 3
    SCANS_PER_PASS = 3
    PASSES_PER_SECOND = 0.25  # a pass takes about 4 s on 4 cores

    def prepare(self, ctx: Ctx) -> None:
        self.hist = gen.ticks(ctx.rng, self.N_TICKS, self.N_SYMBOLS, self.DAYS,
                              self.ZIPF_S, self.OOO_SHARE)
        self.dir = os.path.join(ctx.tmp, "history")
        step = -(-self.N_TICKS // self.N_FILES)
        for i in range(self.N_FILES):
            gen.write_parquet(self.hist.slice(i * step, step),
                              os.path.join(self.dir, f"part-{i:03d}.parquet"))

    def _queries(self):
        from stock_market_data_pipeline_spark.operators.ohlcv import daily_ohlcv
        from stock_market_data_pipeline_spark.operators.rolling import (
            with_rolling_metrics,
        )
        from stock_market_data_pipeline_spark.plans.analytics import (
            multi_window_analytics,
            windowed_analytics,
        )
        return {"ohlcv": daily_ohlcv, "windowed": windowed_analytics,
                "multi_window": multi_window_analytics,
                "rolling": with_rolling_metrics}

    def _ticks(self, ctx: Ctx):
        from stock_market_data_pipeline_spark.sources.batch import (
            read_parquet_lake,
        )
        return read_parquet_lake(ctx.spark, self.dir)

    def _pass(self, ctx: Ctx, res: Result) -> None:
        queries = []
        for name, q in self._queries().items():
            _, s = ctx.rec.call("operators", name,
                                lambda q=q: _noop(q(self._ticks(ctx))))
            queries.append(s)
        scans = [ctx.rec.call("sources", "scan",
                              lambda: _noop(self._ticks(ctx)))[1]
                 for _ in range(self.SCANS_PER_PASS)]
        res.attempted += len(queries) + len(scans)
        for s in queries:
            res.by_name.setdefault(s["name"], []).append(s["wall_s"])
        p = sum(s["wall_s"] for s in queries)
        res.op_s.append(p)
        res.read_s += [s["wall_s"] for s in scans]
        res.rows += self.N_TICKS
        res.rows_wall_s += p
        if ctx.rec.traced:
            res.op_spans.append(_sum_spans(queries))
            res.read_spans += scans

    def warm(self, ctx: Ctx) -> None:
        """One cold pass that collects every query's output for the checks,
        then one pass as timed, whose times are dropped: the second call of
        each query still runs about a fifth slower than later ones."""
        self.outputs = {name: q(self._ticks(ctx)).toPandas()
                        for name, q in self._queries().items()}
        self._pass(ctx, Result())

    def measure(self, ctx: Ctx, res: Result) -> None:
        try:
            for _ in range(_count(ctx.seconds, self.PASSES_PER_SECOND)):
                self._pass(ctx, res)
        except Exception:
            _failed(res, "analytics pass")

    def check(self, ctx: Ctx, res: Result) -> None:
        import duckdb

        out = self.outputs
        glob = os.path.join(self.dir, "*.parquet")
        with duckdb.connect() as con:
            res.problems += checks.check_ohlcv(
                out["ohlcv"], checks.ohlcv_reference(con, glob))
            res.problems += checks.check_windowed(
                out["windowed"], checks.windowed_reference(con, glob))
        per_type = (out["multi_window"].groupby("window_type", as_index=False)
                    .agg(ticks=("tick_count", "sum"),
                         volume=("total_volume", "sum")))
        vol = int(pc.sum(self.hist["volume"]).as_py())
        res.problems += checks.check_conservation(per_type, self.hist.num_rows, vol)
        # the hottest symbol plus random others
        syms = ["S000"] + [str(s) for s in ctx.rng.choice(
            gen.symbols(self.N_SYMBOLS)[1:], self.N_SAMPLED_SYMBOLS - 1,
            replace=False)]
        got = out["rolling"][out["rolling"]["symbol"].isin(syms)]
        src = self.hist.filter(pc.is_in(
            self.hist["symbol"], pa.array(syms))).to_pandas()
        res.problems += checks.check_rolling(got, checks.rolling_reference(src))

    def layers(self, ctx: Ctx, res: Result) -> dict:
        return NO_TABLE


# -- stream_ingest -----------------------------------------------------------

class StreamIngest:
    """A backlog of small tick files drained one file per trigger into a
    manifest table, then followers that each read the table as a stream."""

    TICKS_PER_FILE = 4_000
    FILES_PER_SECOND = 1.0  # a one-file micro-batch takes about 0.5 s
    FOLLOWERS = 4  # each reads the whole table; about 4 s each
    N_SYMBOLS = 32
    ZIPF_S = 1.1
    OOO_SHARE = 0.05
    WARM_FILES = 2
    WARM_TICKS_PER_FILE = 500

    def prepare(self, ctx: Ctx) -> None:
        self.backlog = gen.tick_backlog(
            ctx.rng, os.path.join(ctx.tmp, "backlog"),
            _count(ctx.seconds, self.FILES_PER_SECOND),
            self.TICKS_PER_FILE, self.N_SYMBOLS, self.ZIPF_S, self.OOO_SHARE)
        gen.tick_backlog(ctx.rng, os.path.join(ctx.tmp, "warm_backlog"),
                         self.WARM_FILES, self.WARM_TICKS_PER_FILE,
                         self.N_SYMBOLS, self.ZIPF_S, self.OOO_SHARE)

    def _schema(self):
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
            TimestampType,
        )
        return StructType([StructField("symbol", StringType()),
                           StructField("timestamp", TimestampType()),
                           StructField("price", DoubleType()),
                           StructField("volume", LongType())])

    def _drain(self, ctx: Ctx, name: str):
        from stock_market_data_pipeline_spark.streaming.pipeline import (
            stream_append_manifest,
        )
        from stock_market_data_pipeline_spark.streaming.sources import (
            file_stream,
        )
        src = file_stream(ctx.spark, os.path.join(ctx.tmp, name), self._schema(),
                          fmt="parquet", max_files_per_trigger=1)
        q = stream_append_manifest(
            src, os.path.join(ctx.tmp, f"{name}_table"),
            os.path.join(ctx.tmp, f"{name}_ckpt"),
            trigger={"availableNow": True})
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def _follow(self, ctx: Ctx, name: str, i: int):
        """Follower ``i`` reads the whole table from version 0 into its own
        parquet directory, with its own checkpoint."""
        out = os.path.join(ctx.tmp, f"{name}_follow{i}")
        q = (ctx.spark.readStream.format("manifest_stream")
             .option("path", os.path.join(ctx.tmp, f"{name}_table")).load()
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", out + "_ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def warm(self, ctx: Ctx) -> None:
        from stock_market_data_pipeline_spark.streaming.manifest_source import (
            ManifestStreamDataSource,
        )
        ctx.spark.dataSource.register(ManifestStreamDataSource)
        self._drain(ctx, "warm_backlog")
        self._follow(ctx, "warm_backlog", 0)

    def measure(self, ctx: Ctx, res: Result) -> None:
        rec = ctx.rec
        j0 = rec.job_count() if rec.traced else 0
        try:
            q, drain = rec.call("streaming", "drain",
                                lambda: self._drain(ctx, "backlog"))
        except Exception:
            _failed(res, "stream drain")
            return
        self.progress = [p for p in q.recentProgress if p is not None]
        self.input_rows = [int(p.numInputRows) for p in self.progress]
        res.attempted += len(self.progress)
        res.op_s += [p.durationMs["triggerExecution"] / 1e3 for p in self.progress]
        res.rows += sum(self.input_rows)
        res.rows_wall_s += drain["wall_s"]
        if rec.traced:
            jobs = rec.jobs(j0, rec.job_count())
            res.op_spans = spans.split_by_batch(self.progress, jobs)
        for i in range(self.FOLLOWERS):
            try:
                _, follow = rec.call("streaming", "follow",
                                     lambda i=i: self._follow(ctx, "backlog", i))
            except Exception:
                _failed(res, f"manifest_stream follower {i}")
                return
            res.attempted += 1
            res.read_s.append(follow["wall_s"])
            if rec.traced:
                res.read_spans.append(follow)

    def check(self, ctx: Ctx, res: Result) -> None:
        from stock_market_data_pipeline_spark.sinks.manifest_lake import (
            manifest_history,
            read_manifest,
        )
        root = os.path.join(ctx.tmp, "backlog_table")
        want = self.backlog.to_pandas()
        table = read_manifest(ctx.spark, root).toPandas()
        res.problems += checks.check_same_rows(table, want, "stream table")
        res.problems += checks.check_stream_counts(
            len(manifest_history(ctx.spark, root)), self.input_rows,
            self.backlog.num_rows)
        for i in range(self.FOLLOWERS):
            follow = pq.read_table(
                os.path.join(ctx.tmp, f"backlog_follow{i}")).to_pandas()
            res.problems += checks.check_same_rows(follow, table,
                                                   f"follower {i} output")

    def layers(self, ctx: Ctx, res: Result) -> dict:
        return _table_layers(ctx.spark, os.path.join(ctx.tmp, "backlog_table"))


WORKLOADS = {
    "batch_analytics": BatchAnalytics,
    "stream_ingest": StreamIngest,
}
