"""The workloads. Each is a closed loop with one client: the next batch
or query starts only when the previous one has finished.

A workload returns a :class:`Result`; ``run.py`` turns it into the
printed metrics. Every operation is counted in ``attempted``; an
operation that raises or whose output check fails is counted in
``failed`` and the loop goes on.
"""

from __future__ import annotations

import importlib
import logging
import math
import os
import random
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import stats
from .cpu import work_ms

log = logging.getLogger("perfbench")

#: ``streaming/__init__`` re-exports a ``follow`` function that shadows
#: the submodule name, so the module is looked up by its full path
FOLLOW = "helium_arango_etl_lite_spark.streaming.follow"
CHAIN = "mock://perfbench-mixed"  # "mixed": payments AND witness receipts
BUCKET = 7200  # streaming.sink.RETENTION_BLOCKS: blocks per block_bucket
TAIL_BATCH = 32  # service default heights per micro-batch (run_service)
STREAM_WAIT_S = 120.0  # bound on any wait for a stream to make progress
REDELIVER = 2  # tail batches at or below the prefix end (set-up)
REF_ROWS = 200_000  # rows of the reference job
REF_JOBS = 4  # reference jobs run after each operation; the first is not kept

#: ``catalog`` workload: (layer, query, end-to-end name of its wall)
CATALOG_QUERIES = (
    ("stateful", "stream_hll_replay", "state_wall_s"),
    ("llm", "llm_ann_graph_route", "llm_wall_s"),
)


class Mismatch(Exception):
    """An output differs from what the inputs determine."""


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)  # timed ops, untraced
    op_cpu_ms: list[float] = field(default_factory=list)  # their CPU time
    traced_op_ms: list[float] = field(default_factory=list)  # trace mode
    #: CPU ms of the untraced ops summed by process (``cpu.tree_cpu`` keys)
    cpu_split: dict[str, float] = field(default_factory=dict)
    passes: float = 0.0  # untraced operations, in the workload's own unit
    op_wall_ms: float = math.nan  # the workload's wall per operation
    ref_ms: list[float] = field(default_factory=list)  # reference jobs, untraced
    op_cpu: float = math.nan  # and its CPU ms per operation
    work: float = 0.0  # blocks (follow_tail) or query executions (catalog)
    window_s: float = 0.0  # measured wall the work was done in
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    setup_end: float = 0.0

    def cpu_per_op(self) -> dict[str, float]:
        """Mean CPU ms per operation by process over the untraced ops."""
        if not self.passes:
            return {}
        return {k: v / self.passes for k, v in self.cpu_split.items()}


class Ctx:
    """What a workload needs: the session, the tracer, its seed-derived
    RNG, the measuring window, a scratch directory in the checkout and the
    CPU clock of the process tree (:class:`perfbench.cpu.CpuClock`)."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work_dir: str,
                 cpu=None):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu
        # wall and CPU seconds spent in reference jobs, left out of samples
        self._ref_wall = 0.0
        self._ref_cpu: dict[str, float] = {}
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.res = Result()

    @contextmanager
    def op(self, what: str):
        """Count one operation; one that raises, or whose check does not
        hold, is counted once as failed and the caller goes on."""
        self.res.attempted += 1
        try:
            yield
        except Exception as exc:  # noqa: BLE001 - the loop must go on; recorded
            self.fail(what, exc)

    def fail(self, what: str, exc: Exception) -> None:
        self.res.failed += 1
        msg = f"{what}: " + (
            str(exc) if isinstance(exc, Mismatch) else traceback.format_exc(limit=3)
        )
        self.res.errors.append(msg[-2000:])
        log.error("failed: %s", msg)

    @staticmethod
    def check(ok: bool, msg: str) -> None:
        if not ok:
            raise Mismatch(msg)

    def phases(self):
        """Measuring phases as ``(traced, seconds)``: one untraced phase,
        or in a traced run an untraced half then a traced half, so the
        tracing overhead is measured on the same loop."""
        if not self.tracer.enabled:
            return [(False, self.seconds)]
        return [(False, self.seconds / 2), (True, self.seconds / 2)]

    def _clock(self) -> tuple[float, dict[str, float]]:
        return time.perf_counter(), (self.cpu.split() if self.cpu else {})

    def sample(self) -> tuple[float, dict[str, float]]:
        """Wall clock and CPU seconds of the process tree by process, the
        time spent in :meth:`reference` jobs left out."""
        wall, cpu = self._clock()
        return wall - self._ref_wall, {k: v - self._ref_cpu.get(k, 0.0) for k, v in cpu.items()}

    def reference(self, record: bool) -> None:
        """Run :data:`REF_JOBS` reference jobs (:func:`reference_job`) and,
        when ``record``, keep the walls of all but the first in
        ``res.ref_ms``: the first runs 1.5-2.5x slower, while the JVM is
        still collecting what the operation left behind. Their time is
        left out of every later :meth:`sample`."""
        for i in range(REF_JOBS):
            w0, c0 = self._clock()
            rows = reference_job(self.spark)
            w1, c1 = self._clock()
            self._ref_wall += w1 - w0
            for k in c1:
                self._ref_cpu[k] = self._ref_cpu.get(k, 0.0) + c1[k] - c0[k]
            if record and i:
                self.res.ref_ms.append((w1 - w0) * 1000)
            total = sum(r["s"] for r in rows)
            self.check(
                len(rows) == 101 and total == REF_ROWS * (REF_ROWS - 1) // 2,
                f"reference job: {len(rows)} groups, sum {total}",
            )

    def record(self, traced: bool, start, end) -> tuple[float, float]:
        """Record the operation between two :meth:`sample` results;
        returns its wall and CPU ms."""
        ms = (end[0] - start[0]) * 1000
        split = {k: (end[1][k] - start[1][k]) * 1000 for k in end[1]}
        cpu_ms = work_ms(split)
        if traced:
            self.res.traced_op_ms.append(ms)
        else:
            self.res.op_ms.append(ms)
            self.res.op_cpu_ms.append(cpu_ms)
            for k, v in split.items():
                self.res.cpu_split[k] = self.res.cpu_split.get(k, 0.0) + v
        return ms, cpu_ms


def reference_job(spark):
    """Fixed Spark work that runs none of the package's code: a two-stage
    group-by over ``spark.range``, through the same session. It is
    job-latency bound like the workloads' operations, so a host that is
    slower for them is slower for it too, while a change to the package
    leaves it as it is."""
    from pyspark.sql import functions as F

    parts = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, REF_ROWS, 1, parts)
        .groupBy((F.col("id") % 101).alias("k"))
        .agg(F.sum("id").alias("s"))
        .collect()
    )


# ------------------------------------------------------------ follow path


def _chain(spark, what: str, lo: int, hi: int, hpp: int | None = None):
    r = (
        spark.read.format("helium_chain")
        .option("endpoint", CHAIN)
        .option("what", what)
        .option("start", str(lo))
        .option("end", str(hi))
    )
    if hpp:
        r = r.option("heights_per_partition", str(hpp))
    return r.load()


def expected_counts(lo: int, hi: int) -> dict[str, int]:
    """Rows the follower must hold after ingesting heights ``lo..hi`` of
    the mixed mock chain (``sources.datasource.mock_transport``): one
    payment per height; one receipt with two witnesses every third
    height; accounts are the distinct payers and payees."""
    heights = range(lo, hi + 1)
    accounts = {f"acct{h % 97}" for h in heights} | {f"acct{(h * 7) % 89}" for h in heights}
    return {
        "payments": len(heights),
        "poc_receipts": 2 * sum(1 for h in heights if h % 3 == 0),
        "accounts": len(accounts),
    }


def expected_sync(hi: int) -> dict[str, int]:
    return {"payments": hi, "poc_receipts": hi - hi % 3}


def check_tables(ctx: Ctx, out: str, lo: int, hi: int) -> None:
    """Exact row counts, unique keys and the sync height for ``lo..hi``;
    raises :class:`Mismatch` at the first difference."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.streaming.follow import sync_state

    for table, n in expected_counts(lo, hi).items():
        row = (
            ctx.spark.read.parquet(f"{out}/{table}")
            .agg(F.count("*").alias("n"), F.countDistinct("_key").alias("k"))
            .collect()[0]
        )
        ctx.check(row["n"] == n, f"{table}: {row['n']} rows, want {n}")
        ctx.check(row["k"] == row["n"], f"{table}: {row['n']} rows, {row['k']} keys")
    got = sync_state(ctx.spark, out)
    ctx.check(got == expected_sync(hi), f"sync_state {got}, want {expected_sync(hi)}")


def _partition_heights(spark, n: int) -> int:
    # bench.py's sizing for the zero-latency mock chain: ~2 partitions per core
    return max(64, -(-n // (2 * spark.sparkContext.defaultParallelism)))


def backfill(ctx: Ctx, out: str, lo: int, hi: int) -> float:
    """Drain ``lo..hi`` into ``out`` with batch reads; returns the wall."""
    follow = importlib.import_module(FOLLOW)

    hpp = _partition_heights(ctx.spark, hi - lo + 1)
    t0 = time.perf_counter()
    with ctx.tracer.span("follow.process_batch"):
        follow.process_batch(
            ctx.spark, _chain(ctx.spark, "blocks", lo, hi, hpp),
            _chain(ctx.spark, "txns", lo, hi, hpp), out,
        )
    return time.perf_counter() - t0


def follow_tail(ctx: Ctx) -> Result:
    """The service's incremental path over a pre-populated graph.

    Set-up drains a 3200-block prefix that spans two ``block_bucket``
    partitions and ends 1600 blocks into the second, then starts the
    ``helium_chain`` stream up to :data:`REDELIVER` batches below the
    prefix end: those first batches are redeliveries the sink must insert
    nothing for (the last may also carry new heights). The measured
    window starts after them. Each batch does what ``run_service``'s
    batch function does, then ``sync_state``; a batch is done when the
    new sync height is visible. The trigger is processing-time 0 s
    (``availableNow`` would run the whole range as one batch).

    One operation is the interval from one batch being done to the next
    being done, so it also counts the stream engine's work between
    ``foreachBatch`` calls (offsets, planning, the source prefetch).
    """
    from pyspark.sql import functions as F

    follow = importlib.import_module(FOLLOW)

    k = ctx.rng.randrange(1, 1000)
    p_lo, p_hi = BUCKET * k - 1600, BUCKET * k + 1599
    # redeliveries are also the stream path's warm-up: its first batches
    # run 10-30% slower than the steady state
    redeliver = REDELIVER
    # the last redelivered batch may straddle the prefix end
    start = p_hi + 1 - TAIL_BATCH * redeliver + ctx.rng.randrange(0, TAIL_BATCH)
    out = os.path.join(ctx.work_dir, "tail", "graph")
    ckpt = os.path.join(ctx.work_dir, "tail", "ckpt")

    with ctx.op(f"prefix {p_lo}..{p_hi}"):
        wall = backfill(ctx, out, p_lo, p_hi)
        # one cold bulk drain into empty tables: reported, not gated
        ctx.res.named["backfill_blocks_per_s"] = ((p_hi - p_lo + 1) / wall, "1/s")

    state = {"n": 0, "window_start": None, "last_hi": p_hi, "traced": False}
    phases = ctx.phases()
    done = threading.Event()
    batches: list[dict] = []

    def batch_fn(batch_blocks, epoch_id: int) -> None:
        if done.is_set():
            return  # window over: the main thread is stopping the stream
        try:
            with ctx.tracer.span("follow.batch", epoch=epoch_id):
                # the first action on the batch reads the rows the stream
                # reader prefetched
                with ctx.tracer.span("sources.stream_read"):
                    empty = batch_blocks.isEmpty()
                if empty:
                    return
                b = batch_blocks.agg(
                    F.min("height").alias("lo"), F.max("height").alias("hi")
                ).collect()[0]
                txns = _chain(ctx.spark, "txns", b["lo"], b["hi"])
                with ctx.tracer.span("follow.process_batch"):
                    follow.process_batch(ctx.spark, batch_blocks, txns, out)
                with ctx.tracer.span("follow.sync_state"):
                    got = follow.sync_state(ctx.spark, out)
            ctx.check(
                got["payments"] == max(b["hi"], p_hi),
                f"batch {b['lo']}..{b['hi']}: sync {got}",
            )
            state["n"] += 1
            measured = state["window_start"] is not None
            ctx.reference(record=measured and not state["traced"])
            now = ctx.sample()
            if measured:
                ctx.res.attempted += 1
                ctx.record(state["traced"], state["prev"], now)
                batches.append({"lo": b["lo"], "hi": b["hi"], "done": now[0]})
            state["prev"] = now
            state["last_hi"] = max(state["last_hi"], b["hi"])
            if not measured and state["n"] == redeliver:
                # the window opens after the redeliveries; whether they
                # inserted anything is checked with the rest at the end
                ctx.res.setup_end = time.time()
                state["window_start"] = state["phase_start"] = now[0]
                ctx.tracer.active = state["traced"] = phases[0][0]
                state["phase"] = 0
            elif measured and time.perf_counter() - state["phase_start"] >= phases[state["phase"]][1]:
                state["phase"] += 1
                if state["phase"] == len(phases):
                    ctx.tracer.active = False
                    done.set()
                else:
                    state["phase_start"] = time.perf_counter()
                    ctx.tracer.active = state["traced"] = phases[state["phase"]][0]
        except Exception as exc:  # noqa: BLE001 - surfaced as a failed op
            ctx.res.attempted += 1
            ctx.fail(f"batch {epoch_id}", exc)
            done.set()

    stream = (
        ctx.spark.readStream.format("helium_chain")
        .option("endpoint", CHAIN)
        .option("start", str(start))
        .option("end", str(start + TAIL_BATCH * 10_000 - 1))
        .option("max_heights_per_batch", str(TAIL_BATCH))
        .load()
    )
    query = (
        stream.writeStream.queryName("perfbench_tail")
        .foreachBatch(batch_fn)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        # bounded: a stuck stream is a failure, never a hang
        budget = STREAM_WAIT_S + ctx.seconds * 2
        with ctx.op("stream"):
            ctx.check(done.wait(budget), f"no window end within {budget:.0f} s")
    finally:
        done.set()
        query.stop()
    if query.exception() is not None:
        with ctx.op("stream"):
            raise query.exception()

    # exact counts and unique keys over prefix, redeliveries and new
    # batches: a redelivered height inserted twice shows up here
    with ctx.op("final tables"):
        check_tables(ctx, out, p_lo, state["last_hi"])
    if batches and state["window_start"] is not None:
        ctx.res.work = len(batches) * TAIL_BATCH
        ctx.res.window_s = batches[-1]["done"] - state["window_start"]
    ms = ctx.res.op_ms
    if ms:
        ctx.res.op_wall_ms = stats.median(ms)
        ctx.res.op_cpu = stats.median(ctx.res.op_cpu_ms)
        ctx.res.passes = len(ms)
    ctx.res.named["tail_blocks_per_s"] = (
        ctx.res.work / ctx.res.window_s if ctx.res.window_s else float("nan"), "1/s"
    )
    ctx.res.named["tail_batch_ms_p50"] = (ctx.res.op_wall_ms, "ms")
    ctx.res.named["tail_batch_cpu_ms_p50"] = (ctx.res.op_cpu, "ms")
    tail = stats.tail_percentile(ms)
    if tail is not None:
        ctx.res.named[f"tail_batch_ms_p{round(tail[0] * 100)}"] = (tail[1], "ms")
    ctx.res.named["tail_batches"] = (len(ms), "count")
    return ctx.res


# ------------------------------------------------------------ catalog path


def _render(v) -> str:
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return "NULL" if v is None else str(v)


def canonical(rows, columns) -> list[tuple[str, ...]]:
    """Rows as the oracle comparison hashes them: columns sorted by name, values
    rendered as strings, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_render(r[i]) for i in order) for r in rows)


def oracle_rows(sf_dir: str, sql: str) -> list[tuple[str, ...]]:
    import duckdb

    con = duckdb.connect()
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf_dir}/{name}'"
                )
        res = con.execute(sql)
        return canonical(res.fetchall(), [d[0] for d in res.description])
    finally:
        con.close()


def catalog(ctx: Ctx, sf_dir: str) -> Result:
    """Warm-up runs each query once and hash-matches it against its DuckDB
    oracle; then runs the list round-robin until the window is over (at
    least one pass). Every timed result is matched too, outside the timed
    region. The operation is one pass: the sum over the queries of each
    one's median.

    The order is fixed, not drawn from the seed: a query's CPU time
    depends on which query ran before it (a pass cost 34-35 s of CPU
    with ``stream_hll_replay`` first and 35-40 s with the graph walk
    first), which would split the runs into two groups by seed.
    """
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    order = list(CATALOG_QUERIES)
    want: dict[str, list] = {}
    walls: dict[str, list[float]] = {q: [] for _, q, _ in order}
    cpus: dict[str, list[float]] = {q: [] for _, q, _ in order}

    def run(layer: str, q: str, traced: bool | None) -> None:
        with ctx.op(q):
            spec = QUERIES[q]
            t0 = ctx.sample()
            with ctx.tracer.span(f"{layer}.{q}"):
                df = spec.spark_fn(ctx.spark, sf_dir)
                rows = df.collect()
            t1 = ctx.sample()
            if traced is not None:
                ms, cpu_ms = ctx.record(traced, t0, t1)
                if not traced:
                    walls[q].append(ms)
                    cpus[q].append(cpu_ms)
                ctx.res.work += 1
            ctx.reference(record=traced is False)
            if q not in want:
                want[q] = oracle_rows(sf_dir, spec.oracle)
            got = canonical([tuple(r) for r in rows], df.columns)
            ctx.check(got == want[q], f"{q}: {len(got)} rows differ from oracle ({len(want[q])})")

    for layer, q, _ in order:
        run(layer, q, None)
    ctx.res.setup_end = time.time()
    for traced, secs in ctx.phases():
        ctx.tracer.active = traced
        t0 = time.perf_counter()
        i = 0
        while i < len(order) or time.perf_counter() - t0 < secs:
            layer, q, _ = order[i % len(order)]
            run(layer, q, traced)
            i += 1
        ctx.res.window_s += time.perf_counter() - t0
    ctx.tracer.active = False
    for _, q, metric in CATALOG_QUERIES:
        if walls[q]:
            ctx.res.named[metric] = (stats.median(walls[q]) / 1000, "s")
    if all(walls.values()):
        # one operation: a pass over the queries, each at its median
        ctx.res.op_wall_ms = sum(stats.median(w) for w in walls.values())
        ctx.res.op_cpu = sum(stats.median(c) for c in cpus.values())
        ctx.res.passes = len(ctx.res.op_ms) / len(order)
    return ctx.res
