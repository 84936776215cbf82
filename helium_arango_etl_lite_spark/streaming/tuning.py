"""Scale-adaptive partitioning for stateful streams (optimization guide
section 2: "make partitioning scale-adaptive ... rather than a constant
tuned for either local mode or the cluster").

Why this exists
---------------
A stateful streaming query pins its state-store partitioning to
``spark.sql.shuffle.partitions`` at the FIRST micro-batch and keeps it for
the lifetime of the checkpoint; AQE never applies to streaming plans, so
unlike every batch shuffle in this package (where AQE coalescing resizes
at runtime) the stateful exchange cannot self-correct. The cost of a
partition is NOT just its share of rows: every micro-batch commits one
delta file per state store per partition (a stream-stream join keeps four
stores per partition), so over-partitioned streams pay O(partitions x
stores x batches) in checkpoint/state I/O regardless of data volume.
Measured on this host with bench.py's fixed calib_state job (150k rows,
2000 keys, 3 micro-batches): 3.95 s at 32 partitions -> 1.60 s at 8 ->
1.37 s at 4 — pure commit overhead, identical results.

The partition count must therefore be derived from the DATA, not from the
core count (too big for small streams) and not from a constant (too small
at 100 TB). :func:`stream_partitions` sizes partitions so each holds
about ``TARGET_MB`` of source input per full replay:

* at bench scale (a few MB of micro-batches) it gives the floor — state
  I/O stops dominating;
* at production scale (GBs per batch) it grows linearly with input, i.e.
  exactly what you would hand-tune on a cluster, up to a cap.

:func:`stream_shuffle_partitions` scopes the setting to one stream: the
conf is set before ``start()`` and restored after the stream ends,
so the surrounding batch plans keep the session's normal parallelism.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

# Source bytes a single state partition should be responsible for across
# one replay. 32 MB of raw source per partition keeps per-task state in
# the tens of MB (hash-agg / join state is usually same order as input)
# while amortizing the per-partition commit cost over real work.
# Floor 8, not lower: the applyInPandasWithState family runs real
# per-batch Python work and an interleaved A/B at floor 4 vs 8 read
# 8 consistently faster on all four python-stateful replays (cdc
# 8.5 -> 5.9 s, attribution 6.3 -> 5.3, scd2 6.6 -> 5.5, ooo-sessions
# 7.4 -> 5.9) while the JVM calib_state job pays only +0.2 s for 8 vs 4
# — parallelism for the Python worker is worth more than the extra
# per-partition commits.
TARGET_MB = 32
MIN_PARTS = 8
MAX_PARTS = 4096


def _dir_bytes(path: str) -> int:
    """Total bytes under a local directory (the replay sources are always
    local parquet dirs written by the query itself).

    A path that does not exist as a local directory (a typo, or an
    s3://... / hdfs://... URI this local-only walk cannot measure) is
    WARNED about rather than silently sized 0 — sizing it 0 would make
    :func:`stream_partitions` return the floor and under-partition a
    large production stream with no trace (ADVICE r13)."""
    if not os.path.isdir(path):
        import warnings

        warnings.warn(
            f"stream_partitions: source {path!r} is not a local directory "
            "(remote URI or typo?) — it contributes 0 bytes and the "
            "partition count may fall to the floor",
            RuntimeWarning,
            stacklevel=3,
        )
        return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def stream_partitions(*src_dirs: str) -> int:
    """Derive the stateful-shuffle partition count from the total size of
    the stream's source directories (see module docstring)."""
    total = sum(_dir_bytes(d) for d in src_dirs)
    want = -(-total // (TARGET_MB * (1 << 20)))  # ceil
    return max(MIN_PARTS, min(MAX_PARTS, int(want)))


@contextmanager
def stream_shuffle_partitions(
    spark: SparkSession, n_parts: int
) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to one streaming run.

    Set BEFORE ``start()`` (the first micro-batch pins state
    partitioning from it) and restored AFTER the stream terminates
    (micro-batches are planned while awaiting, so restoring earlier
    would race the stream's own planning).

    RESTRICTION (ADVICE r13): the conf is session-global for the
    duration of the stream — a concurrent batch query or a second
    stream planned in the SAME session inside this window picks up the
    temporary value. The catalog's replays run their stream serially
    within one query invocation, which is safe; anything that plans
    concurrent work in a shared session should use a separate session
    (``spark.newSession()``) for the stream instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
