"""Market-data benchmark: one workload per run, one JSON line at the end.

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The engine is imported from that checkout
and driven only through its public functions, in one process, at
``local[<cpus>]``. Inputs are generated from ``--seed`` into a temporary
directory under the checkout, which is removed at exit. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs every call in its own job group
and prints the per-layer metrics, and writes all spans to
``perfbench/out/trace-<workload>-<seed>.json``.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402

# perf_counter reading at the moment this process started
_START = _T0 - proc.process_age_s()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# a run that is still going after this many seconds stops itself, so that
# its cleanup ends well inside the 180 s a run may take
DEADLINE_S = 140


def _stop_run(signum, frame):
    """SIGTERM, SIGHUP and the deadline's SIGALRM unwind the run through its
    ``finally`` blocks, which stop the JVM and remove the temporary files."""
    raise SystemExit(f"stopped by {signal.Signals(signum).name}")


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _import_engine():
    """Import the engine from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    import stock_market_data_pipeline_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"engine imported from {pkg.__file__}, not {ROOT}")


def _session(tmp: str):
    from stock_market_data_pipeline_spark.session import get_spark

    # temporary files of py4j, the JVM and Spark's Python workers stay here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{os.cpu_count()}]",
        shuffle_partitions=os.cpu_count(),
        extra_conf={
            # the engine defaults to an 8 GB heap; these inputs need far
            # less, and the machine's memory is shared
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(tmp, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        "e2e": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "layers": {m["name"]: m["unit"] for m in bench["per_layer"]},
        "workloads": [w["name"] for w in bench["workloads"]],
    }


def _run(args, declared: dict, tmp: str) -> dict:
    import numpy as np

    import spans
    import workloads

    spark = _session(tmp)
    start_s = time.perf_counter() - _START
    try:
        rec = spans.Recorder(spark, traced=bool(args.trace))
        ctx = workloads.Ctx(spark, rec, tmp, np.random.default_rng(args.seed),
                            args.seconds)
        wl = workloads.WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.prepare(ctx)
        _log(f"session {start_s:.1f}s, inputs {time.perf_counter() - t:.1f}s")
        t = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - t
        n_warm = len(rec.spans)
        res = workloads.Result()
        t = time.perf_counter()
        wl.measure(ctx, res)
        measured_s = time.perf_counter() - t
        live_heap_mb = proc.jvm_live_heap_mb(spark)
        _log(f"warm {warm_s:.1f}s, measured {measured_s:.1f}s: "
             f"{res.attempted} ops, {res.failed} failed; op "
             f"{[round(x, 3) for x in res.op_s]}, read "
             f"{[round(x, 3) for x in res.read_s]}; "
             f"{ {k: [round(x, 3) for x in v] for k, v in res.by_name.items()} }")
        # a failed operation leaves the outputs and samples incomplete: the
        # checks and the metrics that need them are skipped, and the run
        # reports itself incorrect
        complete = res.failed == 0
        layers = {"session.start_s": start_s, "session.warm_s": warm_s}
        if complete:
            t = time.perf_counter()
            wl.check(ctx, res)
            _log(f"checks {time.perf_counter() - t:.1f}s")
            if args.trace:
                layers.update(spans.summarise("op", res.op_spans))
                layers.update(spans.summarise("read", res.read_spans))
            layers.update(wl.layers(ctx, res))
    finally:
        signal.alarm(0)
        t = time.perf_counter()
        proc.stop_spark(spark)
        _log(f"stop {time.perf_counter() - t:.1f}s")
    e2e = {
        "setup_s": start_s + warm_s,
        "jvm_live_heap_mb": live_heap_mb,
    }
    if complete:
        e2e.update({
            "op_p50_s": res.op_p50_s(),
            "read_p50_s": median(res.read_s),
            "rows_per_s": res.rows / res.rows_wall_s,
        })
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        rec.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                 {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "warm_spans": n_warm,
                  "end_to_end": e2e, "per_layer": layers,
                  "op_spans": res.op_spans, "read_spans": res.read_spans})
    want = declared["layers"] if args.trace else declared["e2e"]
    got = layers if args.trace else e2e
    if complete and set(got) != set(want):
        raise RuntimeError(f"metrics {sorted(got)} do not match the declared "
                           f"{sorted(want)}")
    return {
        "correct": complete and not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(got[k]), "unit": want[k]}
                    for k in want if k in got},
    }


def main() -> int:
    args = _args()
    declared = _declared()
    if args.workload not in declared["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {declared['workloads']}")
    _import_engine()
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGALRM):
        signal.signal(sig, _stop_run)
    signal.alarm(DEADLINE_S)
    proc.become_subreaper()
    scratch = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=scratch)
    try:
        result = _run(args, declared, tmp)
    finally:
        signal.alarm(0)
        try:
            # processes first, so none writes into the directory being removed
            proc.assert_no_descendants()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:
                pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
