"""Per-layer metrics of a traced run, from its spans, its streaming
progress records and its event log (see README.md for the layer map).

Values are per timed operation of the traced half (a drain, a tail batch
or a catalog query), so runs of different length compare directly.
"""

from __future__ import annotations

from datetime import datetime, timezone

from . import stats
from .trace import event_log_lines

SCAN_STAGE = "DataSourceRDD"  # the helium_chain Python DataSource scan
FILE_SCAN = "FileScanRDD"  # parquet reads (the sink's existing-key probe)
PY_ACCUM = "data returned from Python workers"
TAIL_STREAM = "perfbench_tail"

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("cpu.driver_py_ms", "ms"),
    ("cpu.jvm_ms", "ms"),
    ("cpu.jit_ms", "ms"),
    ("cpu.workers_ms", "ms"),
    ("sources.scan_task_s", "s"),
    ("sources.rows_read", "count"),
    ("sources.stream_read_s", "s"),
    ("graph.plan_s", "s"),
    ("graph.rows_out", "count"),
    ("sink.append_s", "s"),
    ("sink.jobs", "count"),
    ("sink.probe_rows", "count"),
    ("sink.insert_ratio", "ratio"),
    ("follow.process_batch_s", "s"),
    ("follow.sync_state_s", "s"),
    ("follow.stream_overhead_s", "s"),
    ("stateful.batch_ms", "ms"),
    ("stateful.update_ms", "ms"),
    ("stateful.commit_ms", "ms"),
    ("stateful.state_rows", "count"),
    ("stateful.python_worker_s", "s"),
    ("stateful.stream_hll_replay_s", "s"),
    ("llm.llm_ann_graph_route_s", "s"),
    ("llm.driver_gap_s", "s"),
    ("run.jobs", "count"),
    ("run.stages", "count"),
    ("run.tasks", "count"),
    ("run.executor_run_s", "s"),
    ("run.gc_s", "s"),
    ("run.shuffle_read_bytes", "bytes"),
    ("run.shuffle_write_bytes", "bytes"),
    ("run.spill_bytes", "bytes"),
    ("run.driver_gap_s", "s"),
    ("trace.overhead_ms", "ms"),
)


def load_event_log(log_dir: str) -> stats.EventLog:
    return stats.EventLog(stats.read_events(event_log_lines(log_dir)))


def _closed(tracer) -> list[dict]:
    return [s for s in tracer.spans if s["end"] is not None]


def span_table(tracer, elog: stats.EventLog) -> list[dict]:
    """Every span with its counters, self time and driver gap."""
    spans = _closed(tracer)
    counters = stats.span_counters(elog, spans)
    return [
        {**s, **{k: v for k, v in counters[s["id"]].items() if k != "job_ids"}}
        for s in spans
    ]


def _tasks(elog: stats.EventLog, jobs, field: str, stage_match=None, accum=None) -> float:
    total = 0.0
    for jid in jobs:
        for sid in elog.jobs[jid]["stages"]:
            if stage_match and stage_match not in elog.stage_name.get(sid, ""):
                continue
            if accum and accum not in elog.stage_accums.get(sid, {}):
                continue
            total += sum(t[field] for t in elog.stage_tasks.get(sid, []))
    return total


def per_layer(
    tracer, elog: stats.EventLog, res, session_start_s: float, warmup_s: float,
    peak_rss_mb: float,
) -> dict:
    spans = _closed(tracer)
    counters = stats.span_counters(elog, spans)
    n_ops = max(len(res.traced_op_ms), 1)

    def named(prefix: str) -> list[dict]:
        return [s for s in spans if s["name"].startswith(prefix)]

    def net_wall(s: dict) -> float:
        # a span's wall minus the trace-only work (row counts) inside it
        extra = sum(
            counters[d]["wall_s"]
            for d in stats.descendants(spans, s["id"])
            if spans_by_id[d]["name"].startswith("trace.")
        )
        return counters[s["id"]]["wall_s"] - extra

    spans_by_id = {s["id"]: s for s in spans}
    top = [s for s in spans if s["depth"] == 0]
    all_jobs = [j for s in top for j in counters[s["id"]]["job_ids"]]
    sink = named("sink.append")
    sink_jobs = [j for s in sink for j in counters[s["id"]]["job_ids"]]
    offered = sum(s.get("offered", 0) for s in sink)
    written = _tasks(elog, sink_jobs, "records_written")

    tail = [p for p in tracer.stream_progress(TAIL_STREAM) if p.get("numInputRows")]
    replays = [
        p for p in tracer.stream_progress()
        if p.get("name") != TAIL_STREAM and p.get("numInputRows")
        and any(s["start"] <= _epoch(p) <= s["end"] for s in top)
    ]

    def dur(p, key):
        return p.get("durationMs", {}).get(key, 0)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def state_sum(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators") or [])

    def query_wall(name: str) -> float:
        return stats.median([counters[s["id"]]["wall_s"] for s in named(name)] or [0.0])

    run = elog.fold(all_jobs)
    out = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "process.peak_rss_mb": peak_rss_mb,
        # CPU per operation of the untraced half, by process
        **{
            f"cpu.{k}_ms": res.cpu_per_op().get(k, 0.0)
            for k in ("driver_py", "jvm", "jit", "workers")
        },
        "sources.scan_task_s": _tasks(elog, all_jobs, "executor_run_s", SCAN_STAGE, PY_ACCUM) / n_ops,
        "sources.rows_read": _tasks(elog, all_jobs, "records_read", SCAN_STAGE, PY_ACCUM) / n_ops,
        "sources.stream_read_s": (
            sum(counters[s["id"]]["wall_s"] for s in named("sources.stream_read")) / n_ops
            + mean((dur(p, "latestOffset") + dur(p, "getBatch")) / 1000 for p in tail)
        ),
        "graph.plan_s": sum(counters[s["id"]]["wall_s"] for s in named("graph.")) / n_ops,
        "graph.rows_out": offered / n_ops,
        "sink.append_s": sum(net_wall(s) for s in sink) / n_ops,
        "sink.jobs": len(sink_jobs) / n_ops,
        "sink.probe_rows": _tasks(elog, sink_jobs, "records_read", FILE_SCAN) / n_ops,
        "sink.insert_ratio": written / offered if offered else 0.0,
        "follow.process_batch_s": sum(net_wall(s) for s in named("follow.process_batch")) / n_ops,
        "follow.sync_state_s": sum(counters[s["id"]]["wall_s"] for s in named("follow.sync_state")) / n_ops,
        "follow.stream_overhead_s": mean(
            (dur(p, "triggerExecution") - dur(p, "addBatch")) / 1000 for p in tail
        ),
        "stateful.batch_ms": mean(dur(p, "triggerExecution") for p in replays),
        "stateful.update_ms": mean(state_sum(p, "allUpdatesTimeMs") for p in replays),
        "stateful.commit_ms": mean(state_sum(p, "commitTimeMs") for p in replays),
        "stateful.state_rows": mean(state_sum(p, "numRowsTotal") for p in replays),
        "stateful.python_worker_s": _tasks(
            elog, [j for s in named("stateful.") for j in counters[s["id"]]["job_ids"]],
            "executor_run_s", None, PY_ACCUM,
        ) / n_ops,
        "stateful.stream_hll_replay_s": query_wall("stateful.stream_hll_replay"),
        "llm.llm_ann_graph_route_s": query_wall("llm.llm_ann_graph_route"),
        "llm.driver_gap_s": sum(counters[s["id"]]["driver_gap_s"] for s in named("llm.")) / n_ops,
        "run.driver_gap_s": sum(counters[s["id"]]["driver_gap_s"] for s in top) / n_ops,
        "trace.overhead_ms": (
            stats.overhead(res.op_ms, res.traced_op_ms)
            if res.op_ms and res.traced_op_ms else 0.0
        ),
    }
    for k in stats.SPAN_COUNTERS:
        out[f"run.{k}"] = run[k] / n_ops
    units = dict(PER_LAYER)
    return {k: {"value": out[k], "unit": units[k]} for k, _ in PER_LAYER}


def _epoch(progress: dict) -> float:
    """Trigger start of a progress record, in epoch seconds."""
    ts = progress.get("timestamp", "")
    try:
        return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc
        ).timestamp()
    except ValueError:
        return 0.0
