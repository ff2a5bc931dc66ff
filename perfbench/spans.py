"""Spans around every call the benchmark makes into the engine.

Untraced, a span is a name and a wall time. Traced, each call runs in its own
job group, and after it returns the jobs it launched are read back from
Spark's status store (which works with the UI disabled): job spans, stage and
task counts, executor CPU and run time, input and shuffle bytes. A call's
wall time splits into time inside the union of its job spans and time
outside any job (planning, driver-side Python, commits, py4j).

Spans stay in memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import time
from datetime import datetime
from statistics import median

# per-op quantities summarised as the median over a workload's ops
JOB_FIELDS = ("n_jobs", "n_stages", "n_tasks", "exec_cpu_s", "exec_run_s",
              "input_b", "input_rows", "shuffle_write_b", "in_jobs_s",
              "pre_jobs_s", "post_jobs_s", "outside_jobs_s")


class Recorder:
    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore() if traced else None

    def job_count(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def call(self, layer: str, name: str, fn):
        """Run ``fn()`` as one span; returns ``(result, span)``. An exception
        propagates after the span is recorded with ``failed``."""
        span = {"layer": layer, "name": name}
        if self.traced:
            self._sc.setJobGroup(f"{layer}:{name}:{len(self.spans)}", name)
            j0 = self.job_count()
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            return fn(), span
        except Exception as exc:
            span["failed"] = repr(exc)
            raise
        finally:
            span["wall_s"] = time.perf_counter() - t0
            span["start_ms"] = start_ms
            span["end_ms"] = start_ms + span["wall_s"] * 1000.0
            if self.traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                jobs = self.jobs(j0, self.job_count())
                span.update(decompose(span["start_ms"], span["end_ms"], jobs))
                span["jobs"] = jobs
            self.spans.append(span)

    def jobs(self, j0: int, j1: int) -> list[dict]:
        """Jobs ``j0 <= id < j1`` with their completed (not skipped) stages."""
        if j1 <= j0:
            return []
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        out, seen = [], set()
        for jid in range(j0, j1):
            jd = self._store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "submit_ms": float(sub.get().getTime()) if sub.isDefined() else None,
                "complete_ms": float(comp.get().getTime()) if comp.isDefined() else None,
                "status": jd.status().toString(),
                "stages": [],
            }
            ids = str(jd.stageIds().mkString(","))
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                job["stages"].append({
                    "id": sid,
                    "n_tasks": int(sd.numCompleteTasks()),
                    "exec_cpu_s": sd.executorCpuTime() / 1e9,
                    "exec_run_s": sd.executorRunTime() / 1e3,
                    "input_b": int(sd.inputBytes()),
                    "input_rows": int(sd.inputRecords()),
                    "shuffle_write_b": int(sd.shuffleWriteBytes()),
                })
            out.append(job)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def decompose(start_ms: float, end_ms: float, jobs: list[dict]) -> dict:
    """Job statistics of one op over the interval ``[start_ms, end_ms]``."""
    stages = [s for j in jobs for s in j["stages"]]
    ivs = sorted(
        (max(j["submit_ms"], start_ms), min(j["complete_ms"], end_ms))
        for j in jobs
        if j["submit_ms"] is not None and j["complete_ms"] is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    wall_ms = end_ms - start_ms
    first = ivs[0][0] if ivs else end_ms
    last = max((hi for _, hi in ivs), default=end_ms)
    return {
        "n_jobs": len(jobs),
        "n_stages": len(stages),
        "n_tasks": sum(s["n_tasks"] for s in stages),
        "exec_cpu_s": sum(s["exec_cpu_s"] for s in stages),
        "exec_run_s": sum(s["exec_run_s"] for s in stages),
        "input_b": sum(s["input_b"] for s in stages),
        "input_rows": sum(s["input_rows"] for s in stages),
        "shuffle_write_b": sum(s["shuffle_write_b"] for s in stages),
        "in_jobs_s": covered / 1e3,
        "pre_jobs_s": max(0.0, first - start_ms) / 1e3,
        "post_jobs_s": max(0.0, end_ms - last) / 1e3,
        "outside_jobs_s": max(0.0, wall_ms - covered) / 1e3,
    }


def progress_ms(timestamp: str) -> float:
    """Epoch ms of a ``StreamingQueryProgress.timestamp``."""
    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp() * 1e3


def split_by_batch(progress: list, jobs: list[dict]) -> list[dict]:
    """One op span per micro-batch: the trigger's interval from its progress
    event, with the jobs submitted inside it."""
    out = []
    for p in progress:
        lo = progress_ms(p.timestamp)
        hi = lo + p.durationMs["triggerExecution"]
        mine = [j for j in jobs
                if j["submit_ms"] is not None and lo <= j["submit_ms"] <= hi]
        span = {"layer": "streaming", "name": "micro_batch",
                "batch_id": p.batchId, "rows": int(p.numInputRows),
                "duration_ms": dict(p.durationMs), "start_ms": lo,
                "end_ms": hi, "wall_s": (hi - lo) / 1e3,
                "job_ids": [j["id"] for j in mine]}
        span.update(decompose(lo, hi, mine))
        out.append(span)
    return out


def summarise(prefix: str, spans: list[dict]) -> dict[str, float]:
    """``<prefix>.<field>`` = median over ``spans`` for every job field."""
    return {f"{prefix}.{k}": float(median(s[k] for s in spans))
            for k in JOB_FIELDS}
