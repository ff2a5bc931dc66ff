"""Driver-contract guard: the round driver calls entry()/queries() with its
OWN SparkSession — no UTC timezone pin, no nanos-parquet conf, default
everything. `sources.batch.read_table` must defensively configure at runtime
or every timestamp-window query silently drifts vs the oracle.

Runs in a SUBPROCESS because session confs are process-wide: the shared test
fixture would mask (or be corrupted by) the vanilla settings.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from collections import Counter
import duckdb, math
from pyspark.sql import SparkSession

# Vanilla: exactly what a driver harness would do — no engine-side confs.
spark = SparkSession.builder.master("local[2]").appName("vanilla").getOrCreate()

import __spark_entry__ as E

df = E.entry(spark)
assert df.count() > 0, "entry() empty on vanilla session"

SF = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("events", "documents", "embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v

qs, os_ = E.queries(), E.oracle_sql()
# tz-sensitive window/bucket queries — exactly the ones an unpinned session breaks
for name in ("windowed_analytics", "daily_ohlcv", "gapfill_15m"):
    sdf = qs[name](spark, SF)
    res = con.execute(os_[name]); cols = [d[0] for d in res.description]
    drows = res.fetchall(); srows = sdf.collect()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sidx = {c: i for i, c in enumerate(sdf.columns)}
    sorder = [sidx[cols[i]] for i in order]
    dc = Counter(tuple(norm(r[i]) for i in order) for r in drows)
    sc = Counter(tuple(norm(r[i]) for i in sorder) for r in srows)
    assert dc == sc, f"{name} diverged on vanilla session"
    print(name, "ok", len(srows))
spark.stop()
print("VANILLA_OK")
"""


def test_driver_contract_on_vanilla_session():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "VANILLA_OK" in out.stdout
