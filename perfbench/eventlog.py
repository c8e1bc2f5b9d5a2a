"""Per-layer metrics of a traced run, from the Spark event log.

The traced run tags every job the benchmark's own thread starts with the
job group ``perfbench:<pass>:<query>:<build|sink>``: ``build`` while
``QuerySpec.fn`` runs (eager jobs of the operator layer), ``sink`` while
the noop write runs. Streaming queries run their micro-batches on their
own threads under their run id as job group; a job with a foreign group
submitted inside a query's window is counted as a streaming job of that
query. Stages belong to the first job that lists them; a stage a job
lists but does not run is skipped. Tasks belong to their stage's job.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "platform.warm_s": "s",
    "runtime.warm_s": "s",
    "runtime.release_s": "s",
    "runtime.released_rdds": "count",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "sink.execute_s": "s",
    "sink.jobs": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.stages_skipped_ratio": "ratio",
    "streaming.jobs": "count",
    "executor.cpu_s": "CPU-s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "executor.peak_mem_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "pyworker.cpu_s": "CPU-s",
    "pyworker.run_s": "s",
    "pyworker.start_s": "s",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_returned": "bytes",
    "driver.cpu_s": "CPU-s",
    "jvm.cpu_s": "CPU-s",
    "trace.suite_s": "s",
}

# Python-worker SQL metrics (task accumulables) -> (layer metric, scale)
_PY_ACCUMS = {
    "time to run Python workers": ("pyworker.run_s", 1e-3),
    "time to start Python workers": ("pyworker.start_s", 1e-3),
    "data sent to Python workers": ("pyworker.bytes_sent", 1),
    "data returned from Python workers": ("pyworker.bytes_returned", 1),
}
# Counters summed per query from the event log.
_EVENT_SUMS = (
    "operators.eager_jobs", "sink.jobs", "streaming.jobs", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "executor.cpu_s",
    "executor.run_s", "executor.gc_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.spill_bytes", "sources.scan_bytes",
    *(m for m, _ in _PY_ACCUMS.values()),
)


def _events(log_dir: Path):
    """Events of the one application logged under ``log_dir`` (Spark 4
    writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = sorted(log_dir.glob("eventlog_v2_*/events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _owner(group: str | None, t_ms: int, rows: list[dict]):
    """(row index, kind) for a job, or None when outside every query."""
    if group and group.startswith("perfbench:"):
        _, p, name, phase = group.split(":")
        for i, r in enumerate(rows):
            if r["pass"] == int(p) and r["query"] == name:
                return i, phase
        return None
    t = t_ms / 1000.0
    for i, r in enumerate(rows):
        if r["t_start"] <= t <= r["t_end"]:
            if group:
                return i, "stream"
            return i, "build" if t < r["t_sink"] else "sink"
    return None


def layer_metrics(log_dir: Path, rows: list[dict], passes: list[dict]) -> dict:
    """Per-pass medians of every per-layer metric. Adds each query's
    numbers to its row under ``"layers"``."""
    per_q = [defaultdict(float) for _ in rows]
    job_stages: list[tuple[int, list[int]]] = []
    ran: set[int] = set()
    tasks: list[dict] = []
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            own = _owner(props.get("spark.jobGroup.id"), e["Submission Time"], rows)
            if own is None:
                continue
            i, phase = own
            per_q[i][{"build": "operators.eager_jobs", "sink": "sink.jobs",
                      "stream": "streaming.jobs"}[phase]] += 1
            per_q[i]["scheduler.jobs"] += 1
            job_stages.append((i, e["Stage IDs"]))
        elif kind == "SparkListenerStageSubmitted":
            ran.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    stage_owner: dict[int, int] = {}
    skipped = [0] * len(rows)
    for i, stage_ids in job_stages:
        for sid in stage_ids:
            if sid in ran and sid not in stage_owner:
                stage_owner[sid] = i
                per_q[i]["scheduler.stages"] += 1
            else:
                skipped[i] += 1
    for e in tasks:
        i = stage_owner.get(e["Stage ID"])
        m = e.get("Task Metrics")
        if i is None or not m:
            continue
        q = per_q[i]
        q["scheduler.tasks"] += 1
        q["executor.cpu_s"] += m["Executor CPU Time"] / 1e9
        q["executor.run_s"] += m["Executor Run Time"] / 1e3
        q["executor.gc_s"] += m["JVM GC Time"] / 1e3
        q["executor.peak_mem_bytes"] = max(
            q["executor.peak_mem_bytes"], m["Peak Execution Memory"])
        q["shuffle.write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        rd = m["Shuffle Read Metrics"]
        q["shuffle.read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        q["shuffle.spill_bytes"] += m["Disk Bytes Spilled"]
        q["sources.scan_bytes"] += m["Input Metrics"]["Bytes Read"]
        for acc in e["Task Info"].get("Accumulables", ()):
            target = _PY_ACCUMS.get(acc.get("Name"))
            if target and acc.get("Update") is not None:
                q[target[0]] += float(acc["Update"]) * target[1]

    pass_totals = [defaultdict(float) for _ in passes]
    for i, r in enumerate(rows):
        q = per_q[i]
        q["operators.build_s"] = r.get("build_s", 0.0)
        q["sink.execute_s"] = r.get("sink_s", 0.0)
        q["runtime.release_s"] = r["release_s"]
        q["runtime.released_rdds"] = r["released_rdds"]
        listed = q["scheduler.stages"] + skipped[i]
        q["scheduler.stages_skipped_ratio"] = skipped[i] / listed if listed else 0.0
        r["layers"] = dict(q)
        tot = pass_totals[r["pass"]]
        for k, v in q.items():
            if k == "executor.peak_mem_bytes":
                tot[k] = max(tot[k], v)
            elif k != "scheduler.stages_skipped_ratio":
                tot[k] += v
        tot["_skipped"] += skipped[i]
    out = {}
    keys = set(_EVENT_SUMS) | {
        "operators.build_s", "sink.execute_s", "runtime.release_s",
        "runtime.released_rdds", "executor.peak_mem_bytes"}
    for k in sorted(keys):
        out[k] = statistics.median(t[k] for t in pass_totals)
    out["scheduler.stages_skipped_ratio"] = statistics.median(
        t["_skipped"] / (t["_skipped"] + t["scheduler.stages"])
        if t["_skipped"] + t["scheduler.stages"] else 0.0
        for t in pass_totals)
    return out
