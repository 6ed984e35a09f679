"""Decode a Spark event log and attribute its jobs and task metrics to spans.

Spark 4 writes rolling event logs (``eventlog_v2_<app>/events_<n>_<app>.zstd``)
compressed with zstd; pyarrow's zstd codec reads them, so no extra package
is needed.

A job is attributed to the span whose id is its job group
(``spark.jobGroup.id``, set by the benchmark on entering each span).  Jobs
without one of those groups -- streaming micro-batches run on the stream's
own thread, which sets its own group -- go to the innermost span whose time
window holds the job's submission time.  Each stage is charged to the first
job that lists it, the job that actually runs it.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every log under ``log_dir``, in file order."""
    import pyarrow as pa

    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus")):
                continue  # checksums and the in-progress marker
            m = re.match(r"events_(\d+)_", n)
            files.append((root, int(m.group(1)) if m else 0, n))
    for root, _, n in sorted(files):
        path = os.path.join(root, n)
        codec = "zstd" if n.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            data = f.read().decode()
        for line in data.splitlines():
            if line:
                yield json.loads(line)


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
    }


def attribute(events: list[dict], spans: list) -> dict[str, dict[str, float]]:
    """Span id -> {jobs, stages, tasks, *STAGE_FIELDS} for the work Spark
    ran on that span's behalf (the span itself, not its children)."""
    by_id = {s.id: s for s in spans}
    jobs: dict[int, tuple[str | None, float]] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[jid] = (group, ev["Submission Time"] / 1e3)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            acc = stage_acc.setdefault(ev["Stage ID"], dict.fromkeys(STAGE_FIELDS, 0.0) | {"tasks": 0})
            acc["tasks"] += 1
            for k, v in _task_metrics(ev["Task Metrics"]).items():
                acc[k] += v

    # Innermost enclosing span = the latest-starting one whose window holds t.
    ordered = sorted(spans, key=lambda s: s.start)

    def window_span(t: float) -> str | None:
        best = None
        for s in ordered:
            if s.start > t:
                break
            if t <= s.end:
                best = s.id
        return best

    job_span = {}
    for jid, (group, t) in jobs.items():
        sid = group if group in by_id else window_span(t)
        if sid is not None:
            job_span[jid] = sid

    out: dict[str, dict[str, float]] = {}

    def slot(sid: str) -> dict[str, float]:
        return out.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0.0) | {"jobs": 0, "stages": 0, "tasks": 0})

    for jid, sid in job_span.items():
        slot(sid)["jobs"] += 1
    for stage, acc in stage_acc.items():
        sid = job_span.get(stage_job.get(stage))
        if sid is None:
            continue
        o = slot(sid)
        o["stages"] += 1
        for k, v in acc.items():
            o[k] += v
    return out
