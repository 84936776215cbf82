"""One harness for the catalog's streaming replays.

Every ``stream_*_replay`` entry certifies a streaming operator against a
one-shot batch oracle the same way: its input is cut into slices, each
slice lands as one parquet file, a file ``readStream`` takes one file per
trigger (so slice *i* is micro-batch *i*), the operator runs under the
``availableNow`` trigger, a ``foreachBatch`` appends each batch's output
stamped with its ``batch_id``, and the final table is read back —
usually as the last emission per key. :func:`replay` owns that skeleton;
an entry supplies only the slices, the streaming transform and, where
it needs one, a sink.

The wait is bounded on stalls, not on total time: the replay raises
once no micro-batch has completed for :data:`STALL_S`, so a hung stream
fails loudly while a large soak still runs as long as it makes progress.
A ``foreachBatch`` error surfaces as the ``StreamingQueryException``
that ``awaitTermination`` raises.
"""

from __future__ import annotations

import logging
import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tuning import stream_partitions, stream_shuffle_partitions

log = logging.getLogger(__name__)

# No completed micro-batch for this long fails the replay. The slowest
# batches on record are the heavy-hitters soak at x100: 161.9 s for all
# three (SCALE_SOAK.md), ~54 s a batch; the window is ten of those.
STALL_S = 600.0
# How often the wait looks at the query's progress.
_POLL_S = 1.0

Sink = Callable[[DataFrame, int, str], None]


def _replay_dir(name: str) -> str:
    """Deterministic per-query scratch dir, wiped on entry.

    The replay queries materialize sink tables; one well-known path per
    (process, query) — instead of ``mkdtemp`` per call — keeps repeated
    runs from leaking a directory per invocation (ADVICE r4), and the
    wipe guarantees each run starts from an empty table so the value
    hash is independent of run order. The path is keyed by PID because
    a path shared ACROSS processes races: two concurrent Spark sessions
    running the same replay (e.g. pytest alongside the driver replica)
    both wipe/write ``.../<name>/_temporary/0`` and one aborts with
    FileNotFoundException. Scratch roots left by exited processes are
    swept opportunistically so the per-PID scheme cannot accumulate;
    because a dead owner's PID can be recycled by an unrelated live
    process (which would make the liveness probe keep the orphan
    forever) — and because pre-PID-scheme legacy dirs are not
    digit-named at all — entries ALSO age out by mtime after one day
    (ADVICE r10). Liveness wins over age: a dir whose PID is alive and
    probe-able is never swept, however old (its owner may still be
    reading nested files the dir mtime doesn't reflect — review r11);
    the age path reclaims only dirs whose owner is gone (dead PID),
    un-probe-able (recycled PID now owned by another user), or unnamed
    (legacy non-digit dirs).
    """
    import os
    import shutil
    import tempfile
    import time

    root = os.path.join(tempfile.gettempdir(), "spark_graft_replay")
    stale_before = time.time() - 24 * 3600
    try:
        for entry in os.listdir(root):
            path = os.path.join(root, entry)
            if entry.isdigit() and int(entry) == os.getpid():
                continue
            try:
                aged_out = os.path.getmtime(path) < stale_before
            except OSError:
                aged_out = False
            if not entry.isdigit():
                # legacy/unknown dir: no PID to probe — age is the only
                # signal, so sweep once it's a day old, never sooner
                if aged_out:
                    shutil.rmtree(path, ignore_errors=True)
                continue
            try:
                os.kill(int(entry), 0)  # raises if that PID is gone
            except ProcessLookupError:
                shutil.rmtree(path, ignore_errors=True)
            except PermissionError:
                # PID exists but isn't ours: the process is ALIVE, so
                # the dir is never swept regardless of age (ADVICE r11:
                # the old age-based reclaim here could remove a >24h
                # other-user session's in-use scratch; a recycled PID
                # whose dir truly is orphaned gets cleaned the next
                # time that PID is unoccupied)
                pass
    except FileNotFoundError:
        pass
    d = os.path.join(root, str(os.getpid()), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def mod_slices(df: DataFrame, col: str, n: int) -> list[DataFrame]:
    """``n`` slices by ``col mod n``: every slice spans the whole timeline."""
    return [df.filter(F.pmod(F.col(col), F.lit(n)) == i) for i in range(n)]


def time_slices(df: DataFrame, col: str) -> list[DataFrame]:
    """Three slices by equal thirds of ``col``'s range, in time order.
    Runs one aggregate job for the bounds, so ``df`` should be cached."""
    lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
    c1 = lo + (hi - lo) // 3
    c2 = lo + 2 * (hi - lo) // 3
    t = F.col(col)
    return [df.filter(t < c1), df.filter((t >= c1) & (t < c2)), df.filter(t >= c2)]


def _write_slices(slices: Sequence[DataFrame], path: str) -> None:
    """One parquet file per slice. The file source orders files by
    modification time, so file *i* gets mtime ``1_000_000 + i`` and, read
    one file per trigger, slice *i* is micro-batch *i* on every run."""
    for i, df in enumerate(slices):
        before = set(os.listdir(path))
        df.coalesce(1).write.mode("append").parquet(path)
        for fn in set(os.listdir(path)) - before:
            if not fn.startswith((".", "_")):
                os.utime(os.path.join(path, fn), (1_000_000 + i, 1_000_000 + i))


def _await(q: StreamingQuery, name: str) -> None:
    """Wait for an ``availableNow`` query, raising if no micro-batch
    completes within :data:`STALL_S` (the caller stops the query)."""
    seen, since = None, time.monotonic()
    while not q.awaitTermination(_POLL_S):
        last = q.lastProgress
        batch = last["batchId"] if last else None
        now = time.monotonic()
        if batch != seen:
            seen, since = batch, now
        elif now - since > STALL_S:
            raise RuntimeError(
                f"replay {name}: no micro-batch completed in {STALL_S:.0f} s; "
                f"status={q.status} lastProgress={last}"
            )


def _append_batch(df: DataFrame, bid: int, res: str) -> None:
    df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(res)


def _log_progress(q: StreamingQuery, name: str) -> None:
    for p in q.recentProgress:
        log.info(
            "replay %s batch %s: %s rows in, trigger %s ms, %s state rows",
            name,
            p["batchId"],
            p["numInputRows"],
            p["durationMs"].get("triggerExecution"),
            sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
        )


def replay(
    spark: SparkSession,
    name: str,
    sources: Sequence[Sequence[DataFrame]],
    transform: Callable[..., DataFrame],
    *,
    mode: str,
    sink: Sink | None,
    key: Sequence[str] | None,
) -> DataFrame:
    """Replay ``sources`` as a stream through ``transform`` and read the
    result back.

    ``sources`` holds one list of slice frames per stream source (two for
    a stream-stream join); each source is read with the schema of its
    slices, and ``transform`` receives the source streams in order and
    returns the streaming frame to write in output ``mode``. ``sink(df,
    batch_id, res)`` writes one batch under ``res``; with no sink each
    batch is appended with a ``batch_id`` column. With ``key`` the result
    is each key's rows from its latest batch — the last update-mode
    emission per key; without it, every row the sink wrote. Scratch
    directories live under ``name``.
    """
    srcs = []
    for j, slices in enumerate(sources):
        srcs.append(_replay_dir(f"{name}/src{j}"))
        _write_slices(slices, srcs[-1])
    res = _replay_dir(f"{name}/res")
    ckpt = _replay_dir(f"{name}/ckpt")
    streams = [
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        for slices, src in zip(sources, srcs)
    ]
    write = sink or _append_batch
    with stream_shuffle_partitions(spark, stream_partitions(*srcs)):
        q = (
            transform(*streams)
            .writeStream.foreachBatch(lambda df, bid: write(df, bid, res))
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await(q, name)
        finally:
            if q.isActive:
                q.stop()
    _log_progress(q, name)

    outs = spark.read.parquet(res)
    if key is None:
        return outs
    latest = Window.partitionBy(*key).orderBy(F.desc("batch_id"))
    return outs.withColumn("_rk", F.rank().over(latest)).filter("_rk = 1").drop("_rk")
