"""Pure arithmetic of the benchmark: medians, the tail-percentile rule,
span self time, event-log folding and tracing overhead.

Nothing here imports Spark, so ``test_stats.py`` runs without a JVM.
"""

from __future__ import annotations

import json
import math
import statistics
from collections.abc import Iterable, Iterator

#: A percentile is reported only when at least this many samples lie
#: beyond it; with fewer, its value is one or two samples and says little.
MIN_BEYOND = 10

#: Counters every span carries.
SPAN_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def median(xs: Iterable[float]) -> float:
    return statistics.median(list(xs))


def nearest_rank(xs: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th."""
    return n - max(1, math.ceil(p * n))


def tail_percentile(
    xs: Iterable[float], levels: tuple[float, ...] = (0.99, 0.95, 0.9)
) -> tuple[float, float] | None:
    """The highest percentile in ``levels`` with at least
    :data:`MIN_BEYOND` samples beyond it, as ``(level, value)``; ``None``
    when no level qualifies. The median is always reported on its own."""
    xs = list(xs)
    for p in sorted(levels, reverse=True):
        if xs and beyond(len(xs), p) >= MIN_BEYOND:
            return p, nearest_rank(xs, p)
    return None


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(
    span: tuple[float, float], children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (children clipped to the span; overlaps counted once)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length((a, b) for a, b in clipped if b > a)


def overhead(untraced: Iterable[float], traced: Iterable[float]) -> float:
    """Tracing overhead: median traced minus median untraced."""
    return median(traced) - median(untraced)


# ---------------------------------------------------------------- event log


def read_events(lines: Iterable[str]) -> Iterator[dict]:
    """JSON events of a Spark event log; a torn last line is skipped."""
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            continue


def _task_counters(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
        "records_written": (tm.get("Output Metrics") or {}).get("Records Written", 0),
    }


class EventLog:
    """Jobs, stages and tasks of one application's event log, each job
    tagged with the job group and description it was submitted under."""

    def __init__(self, events: Iterable[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_name: dict[int, str] = {}
        self.stage_tasks: dict[int, list[dict[str, float]]] = {}
        self.stage_accums: dict[int, dict[str, float]] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "start": ev.get("Submission Time", 0) / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "description": props.get("spark.job.description"),
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(ev["Stage ID"], []).append(
                    _task_counters(ev)
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                sid = info.get("Stage ID")
                self.stage_name[sid] = " ".join(
                    [info.get("Stage Name", "")]
                    + [r.get("Name", "") for r in info.get("RDD Info") or []]
                )
                acc: dict[str, float] = {}
                for a in info.get("Accumulables") or []:
                    try:
                        acc[a.get("Name", "")] = acc.get(a.get("Name", ""), 0) + float(
                            a.get("Value", 0)
                        )
                    except (TypeError, ValueError):
                        continue
                self.stage_accums[sid] = acc

    def fold(self, job_ids: Iterable[int]) -> dict[str, float]:
        """Sum the span counters over ``job_ids`` and their stages/tasks."""
        out = {k: 0.0 for k in SPAN_COUNTERS}
        for jid in job_ids:
            job = self.jobs[jid]
            out["jobs"] += 1
            for sid in job["stages"]:
                tasks = self.stage_tasks.get(sid)
                if tasks is None:  # skipped stage: reused shuffle output
                    continue
                out["stages"] += 1
                out["tasks"] += len(tasks)
                for t in tasks:
                    for k in SPAN_COUNTERS[3:]:
                        out[k] += t[k]
        return out


def assign_jobs(
    log: EventLog, spans: list[dict]
) -> dict[int, list[int]]:
    """Map each span id to the jobs it caused.

    A job whose group names a benchmark span (``pb<id>``) belongs to that
    span. Jobs submitted from threads the benchmark cannot tag (streaming
    micro-batches carry the stream's run id) fall back to the innermost
    span whose interval holds the job's submission time.
    """
    by_id = {s["id"]: s for s in spans}
    owned: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in log.jobs.items():
        group = job["group"] or ""
        sid = None
        if group.startswith("pb") and group[2:].isdigit() and int(group[2:]) in by_id:
            sid = int(group[2:])
        else:
            holding = [
                s for s in spans if s["start"] <= job["start"] <= s["end"]
            ]
            if holding:
                sid = max(holding, key=lambda s: (s["depth"], s["start"]))["id"]
        if sid is not None:
            owned[sid].append(jid)
    return owned


def descendants(spans: list[dict], sid: int) -> list[int]:
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids[cur])
    return out


def span_counters(log: EventLog, spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per span: the counters of its jobs and its descendants' jobs, its
    self time, and its driver gap (wall minus time inside its jobs)."""
    owned = assign_jobs(log, spans)
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        sub = descendants(spans, s["id"])
        jobs = [j for d in sub for j in owned[d]]
        c = log.fold(jobs)
        wall = s["end"] - s["start"]
        inside = union_length(
            (max(s["start"], log.jobs[j]["start"]), min(s["end"], log.jobs[j]["end"]))
            for j in jobs
            if log.jobs[j]["end"] is not None
            and min(s["end"], log.jobs[j]["end"]) > max(s["start"], log.jobs[j]["start"])
        )
        c["wall_s"] = wall
        c["driver_gap_s"] = wall - inside
        c["self_s"] = self_time(
            (s["start"], s["end"]),
            ((k["start"], k["end"]) for k in spans if k["parent"] == s["id"]),
        )
        c["job_ids"] = jobs
        out[s["id"]] = c
    return out
