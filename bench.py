"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through the noop sink — unlike ``count()``, which lets
Catalyst prune projection-only plans down to a row count, noop materializes
every output column, so timings reflect real work.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stock_market_data_pipeline_spark.queries import QUERIES
from stock_market_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Where the full-registry timing artifact (BENCH_FULL_r{N}.json) lands.
# A module constant so tests monkeypatch it to tmp_path instead of
# clobbering the round's committed artifact in the repo root (the r9
# verdict's top finding: every pytest run overwrote BENCH_FULL_r09.json
# with the 3-query resilience payload).
ARTIFACT_DIR = os.path.dirname(os.path.abspath(__file__))

# Every registered batch query is benched — a regression in an unbenched
# query cannot hide. Deliberate exclusions go here WITH a reason and are
# emitted in the output JSON.
EXCLUDED: dict[str, str] = {}
HEADLINE = sorted(QUERIES)


def _warm_runtime_paths(spark) -> None:
    """One tiny pass through each heavyweight runtime path on synthetic
    tempdir data: a manifest publish/merge lifecycle, one Python-
    datasource availableNow stream, and one pandas-UDF job (spawns the
    Arrow worker pool). Everything lands in a tempdir that is deleted
    before timing starts."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        merge_upsert_manifest,
        publish_files,
    )
    from stock_market_data_pipeline_spark.streaming.manifest_source import (
        ManifestStreamDataSource,
    )

    tmp = tempfile.mkdtemp(prefix="smdp_bench_warm_")
    try:
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        root = f"{tmp}/t"
        publish_files(spark, df, root, stats_cols=["id"])
        merge_upsert_manifest(
            spark, df.withColumn("seq", F.lit(0)), root,
            keys=["id"], order_col="seq", n_buckets=4,
        )
        spark.dataSource.register(ManifestStreamDataSource)
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", f"{tmp}/sink")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        def _ident(it):
            for pdf in it:
                yield pdf

        (
            spark.range(1000)
            .mapInPandas(_ident, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _host_bandwidth_probe() -> dict[str, float]:
    """Aggregate streaming memory bandwidth (GB/s) at 1 and 8 procs —
    ~4 s of pure numpy BEFORE the Spark session exists. r20 finding:
    this sandbox's bandwidth cap is TIME-VARYING (measured 5.4 vs
    3.0 GB/s at 8 procs ninety minutes apart on an idle host), and
    bandwidth-bound queries track it — it is the mechanism behind the
    ±20% identical-code sweep variance documented since r18. Recording
    it makes every sweep self-identify throttle windows the way
    load_avg_start identifies foreign load."""
    import multiprocessing as mp

    out = {"procs_1": round(_bw_worker(0), 2)}
    try:
        with mp.Pool(8) as pool:
            out["procs_8"] = round(sum(pool.map(_bw_worker, range(8))), 2)
    except Exception:  # noqa: BLE001 — a probe failure must not kill bench
        out["procs_8"] = out["procs_1"]
    return out


def _bw_worker(_):
    import numpy as np

    a = np.ones(100_000_000 // 8, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(5):
        a * 1.0000001  # noqa: B018
    return 5 * 2 * a.nbytes / (time.perf_counter() - t0) / 1e9


def _stop_spark(spark) -> None:
    """Stop the session, shut down the py4j gateway, close the JVM's
    stdin and wait for the JVM to exit: ``spark.stop()`` alone leaves
    the JVM running after the Python process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    jvm_proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if jvm_proc is not None:
        if jvm_proc.stdin is not None:
            jvm_proc.stdin.close()
        jvm_proc.wait(timeout=15)


def main() -> None:
    # capture BEFORE the session/warm-up: the bench's own warm-up jobs
    # inflate loadavg, and the point of this number is to flag OTHER
    # work on the host (r19 verdict item 5)
    load_start = os.getloadavg()
    try:
        host_bw = _host_bandwidth_probe()
    except Exception:  # noqa: BLE001
        host_bw = {}
    spark = get_spark(
        app_name="smdp-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the JVM/codegen paths once so per-query timings measure the
    # queries, not first-job startup.
    warm = "windowed_analytics" if "windowed_analytics" in QUERIES else HEADLINE[0]
    try:
        QUERIES[warm](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up failure is re-reported below
        pass
    # r19 measurement fix (guide §1: time the computation, not runtime
    # bring-up): the sweep runs alphabetically, so whichever queries
    # happen to sort first also paid one-time SESSION costs the others
    # never see — JIT/codegen of the write paths, the Python-datasource
    # streaming runner spawn (measured 18.4 s for the first
    # manifest_stream lifecycle vs 3.6 s steady) and the pandas/Arrow
    # executor worker pool import storm (ann_recall recorded 95.8 s in
    # the r19 baseline sweep vs 15.3 s on its own rerun). Exercise each
    # runtime path ONCE on tiny synthetic tempdir data before timing
    # starts. Nothing derived from SF_DIR is computed or cached here —
    # per-query methodology (noop sink, one timed run, rerun guard) is
    # unchanged; see OPTIMIZATION_r19.md.
    try:
        _warm_runtime_paths(spark)
    except Exception:  # noqa: BLE001 — a warm-up failure must not kill the sweep
        pass

    # One broken query must not erase the other timings (round-3 lesson:
    # a single AnalysisException zeroed the whole artifact). Errors are
    # recorded per-query and surfaced in the JSON line.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        if name in EXCLUDED:
            continue
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001 — any failure is a data point
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        timings[name] = round(time.perf_counter() - t0, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Interference guard (r15 lesson: the driver's sweep recorded ten
    # >1.5x "movers" that were a transient load window — 80 s of
    # fiction in the official record). Any query that regressed >1.5x
    # vs the recent committed record (and by >0.5 s absolute) re-runs
    # ONCE at sweep end, when the transient has passed; the headline
    # takes the better time and both numbers land in `queries_rerun`,
    # so the artifact self-identifies or self-corrects transient
    # movers instead of requiring a judge-side re-bench.
    #
    # Baseline = per-query MIN over the last TWO rounds' BENCH_FULL
    # records (r16 verdict: a single prior-round baseline lets one
    # phantom entry mask the next round's adjudication — r15's
    # transient retention_revenue 21.68 s meant the honest r16 4.43 s
    # never re-ran against the 2.29 s steady state). The filename is
    # the one the discovery regex actually matched — never re-derived
    # from the round number (an unpadded artifact name would be found
    # by the regex yet miss a zero-padded exists() lookup, silently
    # disabling the guard).
    prev_q: dict[str, float] = {}
    rnd_probe = os.environ.get("SPARK_GRAFT_ROUND")
    prev_candidates = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(ARTIFACT_DIR)
        if (m := re.match(r"BENCH_FULL_r(\d+)\.json$", f))
    )
    if rnd_probe is not None:
        # explicit round (scratch runs pin 999): newest records BELOW it
        prev_candidates = [
            (r, f) for r, f in prev_candidates if r < int(rnd_probe)
        ]
    for _, prev_name in prev_candidates[-2:]:
        try:
            with open(os.path.join(ARTIFACT_DIR, prev_name)) as fh:
                for qn, qt in (json.load(fh).get("queries") or {}).items():
                    if isinstance(qt, (int, float)):
                        prev_q[qn] = min(prev_q.get(qn, float(qt)), float(qt))
        except (OSError, ValueError):
            continue
    queries_rerun: dict[str, dict[str, float | str]] = {}
    movers = sorted(
        n for n, t in timings.items()
        if n in prev_q and t > 1.5 * prev_q[n] and t - prev_q[n] > 0.5
    )
    # r20 (r19 verdict item 5): movers re-run TWICE and the headline
    # takes the MEDIAN of {sweep, rerun1, rerun2} — one rerun landing
    # inside the same load transient used to leave the fiction in the
    # record, and min-of-two biases the other way. All three numbers
    # land in `queries_rerun` so the artifact stays auditable. A rerun
    # that raises is recorded there as `error`, and the headline then
    # takes the SLOWEST lap that ran: a failed rerun is no evidence that
    # the sweep's time was a transient.
    for name in movers[:25]:  # bound the tail; 25 >> any honest round
        laps = [timings[name]]
        rec: dict[str, float | str] = {}
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001 — keep the laps so far
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                break
            laps.append(round(time.perf_counter() - t0, 3))
        queries_rerun[name] = {
            **dict(zip(("sweep", "rerun", "rerun2"), laps)),
            **rec,
        }
        timings[name] = sorted(laps)[1] if len(laps) == 3 else max(laps)

    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "excluded": sorted(EXCLUDED),
        "sf": float(sf),
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        # r20 (r19 verdict item 5): a sweep started on a busy host is
        # loudly self-identifying — r19's official record was taken at
        # loadavg 6.0 and carried ±20% of interference both directions.
        "load_suspect": load_start[0] > 2.0,
        # r20: this VM's memory-bandwidth cap varies ~2x over time
        # (5.4 vs 3.0 GB/s at 8 procs, idle host, 90 min apart) and
        # bandwidth-bound queries track it; < 4 GB/s aggregate marks a
        # throttled window.
        "host_bw_gbps": host_bw,
        "bw_suspect": bool(host_bw) and host_bw.get("procs_8", 9) < 4.0,
        "queries_rerun": queries_rerun,
    }
    if payload["load_suspect"]:
        sys.stderr.write(
            f"bench: WARNING start loadavg {load_start[0]:.2f} > 2 — "
            "timings are load-suspect; prefer an idle host\n"
        )
    # The driver's BENCH_r{N}.json artifact keeps only a ~2000-char tail of
    # this line, hiding half the registry's timings from round-over-round
    # comparison — so ALSO persist the complete dict as a committed file
    # (r8 verdict item 2). Round number: explicit $SPARK_GRAFT_ROUND wins.
    # Otherwise infer from the newest CORRECTNESS_r{N}.json *and its mtime*:
    # the driver runs bench minutes AFTER the round's CORRECTNESS file lands
    # (observed r10, r11), so a fresh CORRECTNESS file (< 2 h old) means this
    # bench belongs to the SAME round N, not N+1. The old unconditional
    # max+1 fallback mislabeled two consecutive records (BENCH_FULL_r11 held
    # r10's numbers, BENCH_FULL_r12 held r11's — both renamed in round 12).
    # A stale CORRECTNESS file (a bench run early in the NEXT round, before
    # its own CORRECTNESS exists) still infers N+1.
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round is not None:
        rnd = int(env_round)
    else:
        rounds = {
            int(m.group(1)): os.path.getmtime(os.path.join(ARTIFACT_DIR, f))
            for f in os.listdir(ARTIFACT_DIR)
            if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", f))
        }
        if not rounds:
            rnd = 0
        else:
            newest = max(rounds)
            same_round = (time.time() - rounds[newest]) < 2 * 3600
            rnd = newest if same_round else newest + 1
    payload["round"] = rnd
    record = os.path.join(ARTIFACT_DIR, f"BENCH_FULL_r{rnd:02d}.json")
    if env_round is None and os.path.exists(record):
        # Inferred round, record already on disk: a >2h-late same-round
        # re-run would otherwise clobber the NEXT round's slot (r12
        # advice — the same failure mode the inference fix targets, one
        # boundary over). Only an explicit SPARK_GRAFT_ROUND may
        # overwrite; park the inferred-round payload beside it instead.
        record = os.path.join(ARTIFACT_DIR, f"BENCH_FULL_r{rnd:02d}.rerun.json")
        sys.stderr.write(
            f"bench: inferred round {rnd} already has a committed record; "
            f"writing {os.path.basename(record)} (pin SPARK_GRAFT_ROUND to "
            "overwrite)\n"
        )
    with open(record, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    # Full contract line first (complete per-query dict for anyone reading
    # whole stdout), then a COMPACT summary as the FINAL line: the driver
    # keeps only a ~2000-char stdout tail, and at 162 queries the full line
    # is ~5 kB, so r13's BENCH_r13.json landed parsed:null (r13 verdict
    # item 8). The compact line keeps the metric contract, trims `queries`
    # to the 20 slowest, and points at the committed full record.
    print(json.dumps(payload))
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": payload["sf"],
        "round": rnd,
        "n_queries": len(timings),
        "n_errors": len(errors),
        # errors stay visible in the tail (trimmed); the full text is in
        # the committed record
        "errors": {k: v[:120] for k, v in sorted(errors.items())[:5]},
        "queries": slowest,
        "queries_full": os.path.basename(record),
    }
    # Degrade, never die: JSON-escaping of multi-line Py4J errors can
    # inflate the line well past the estimate, and crashing here would
    # recreate the parsed:null + rc!=0 failure this summary exists to
    # fix — shed queries, then errors, until the tail-capture bound holds.
    line = json.dumps(summary)
    while len(line) > 1900 and summary["queries"]:
        summary["queries"].pop(list(summary["queries"])[-1])  # fastest first
        line = json.dumps(summary)
    while len(line) > 1900 and summary["errors"]:
        summary["errors"].pop(list(summary["errors"])[-1])
        line = json.dumps(summary)
    print(line)
    _stop_spark(spark)
    # Exit 0 even with errors: the driver must record the surviving timings
    # (r3's rc=1 run was recorded as parsed:null). `errors` is the loud flag.


if __name__ == "__main__":
    main()
