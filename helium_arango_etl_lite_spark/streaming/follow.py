"""Incremental tail-follow pipeline (SURVEY.md sections 2.6, 3.1-3.2).

The reference's service loop (etl.py:3-5 -> Follower.run, follower.py:55-75)
re-expressed as Structured Streaming:

* micro-batch = the newly landed block files (``stream_blocks``), replacing
  ``while True: process_block(sync_height)``;
* the batch body is the section 3.2 dataflow — type dispatch, explode,
  project, deterministic key — built from ``operators.graph``;
* the sink is :func:`streaming.sink.idempotent_append`, replacing
  ``importBulk(onDuplicate="ignore")`` (follower.py:205-207). Deterministic
  keys + anti-join make replays no-ops, so Spark's at-least-once
  ``foreachBatch`` delivery composes to exactly-once table contents — the
  same idempotence argument the reference relies on;
* offsets live in the checkpoint dir, replacing the hand-rolled
  ``follower_info`` state doc (follower.py:116-128);
* ``Trigger.AvailableNow`` gives the offline/batch parity mode (drain the
  landing zone, then stop); leaving ``available_now=False`` follows the
  zone continuously like the reference's tip-poll loop.

Scale notes: one broadcast join of the batch's txn stubs onto the txn
envelope table (``operators.graph.typed_stubs``) feeds all three sinks.
The only collect to the driver is the batch's bucket list, taken once
from the block heights for both edge sinks' existing-keys probes.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.graph import account_vertices, payment_edges, typed_stubs, witness_edges
from .sink import BUCKET_COL, block_buckets, has_data_file, idempotent_append
from ..sources.jsonl import CORRUPT_COL, read_txns, stream_blocks

PAYMENTS = "payments"
RECEIPTS = "poc_receipts"
ACCOUNTS = "accounts"
QUARANTINE = "quarantine"


def process_batch(
    spark: SparkSession,
    blocks: DataFrame,
    txns: DataFrame,
    out_dir: str,
    strict_path0: bool = True,
) -> None:
    """One micro-batch of the follower dataflow (follower.py:135-207).

    ``blocks``/``txns`` may still carry a ``_corrupt_record`` column from a
    PERMISSIVE read; bad rows are quarantined (the engine's ValidationError
    path, follower.py:58-69) and good rows flow on.
    """
    raw_blocks = None
    if CORRUPT_COL in blocks.columns:
        raw_blocks = blocks.cache()
        bad = raw_blocks.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw")
        )
        if not bad.isEmpty():
            bad.write.mode("append").parquet(f"{out_dir}/{QUARANTINE}")
        blocks = raw_blocks.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if CORRUPT_COL in txns.columns:
        txns = txns.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

    # Three sinks filter the same stub join: persist it (and the blocks the
    # bucket list also reads) so the source and the join run once, not once
    # per sink action. Every edge's ``block`` is one of the block heights.
    blocks = blocks.persist()
    typed = typed_stubs(blocks, txns).persist()
    try:
        buckets = block_buckets(blocks.select(F.col("height").alias("block")))
        idempotent_append(
            spark, payment_edges(typed), f"{out_dir}/{PAYMENTS}", buckets=buckets
        )
        idempotent_append(
            spark,
            witness_edges(typed, strict_path0=strict_path0),
            f"{out_dir}/{RECEIPTS}",
            buckets=buckets,
        )
        idempotent_append(spark, account_vertices(typed), f"{out_dir}/{ACCOUNTS}")
    finally:
        typed.unpersist()
        blocks.unpersist()
        if raw_blocks is not None:
            raw_blocks.unpersist()


def follow(
    spark: SparkSession,
    blocks_path: str,
    txns_path: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    strict_path0: bool = True,
) -> StreamingQuery:
    """Start the follow query. With ``available_now`` it drains everything
    currently landed and stops (offline parity); otherwise it keeps
    following new files like the reference's 10 s tip poll
    (follower.py:74-75), with the poll interval owned by Spark's source.
    """
    stream = stream_blocks(spark, blocks_path, max_files_per_trigger)

    def batch_fn(batch_blocks: DataFrame, epoch_id: int) -> None:
        txns = read_txns(spark, txns_path)
        process_batch(spark, batch_blocks, txns, out_dir, strict_path0=strict_path0)

    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# read errors that mean "this table has not been written yet"
_NOT_CREATED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _max_block(spark: SparkSession, table: str) -> int | None:
    """``max(block)`` of an edge table from its newest ``block_bucket``
    holding a data file (an in-flight write leaves only ``_temporary``),
    else from the table root."""
    names = os.listdir(table) if os.path.isdir(table) else []
    prefix = f"{BUCKET_COL}="
    buckets = sorted((int(n[len(prefix):]) for n in names if n.startswith(prefix)), reverse=True)
    dirs = (f"{table}/{BUCKET_COL}={b}" for b in buckets)
    path = next((d for d in dirs if has_data_file(d)), table)
    # top-1 instead of agg(max): one job, no shuffle; NULLs sort last
    top = spark.read.schema("block long").parquet(path).orderBy(F.desc("block")).head(1)
    return top[0]["block"] if top else None


def sync_state(spark: SparkSession, out_dir: str) -> dict[str, int | None]:
    """Engine analog of the ``follower_info`` doc read-back
    (follower.py:100-103) and the chain-tip probe (client.py:21-23): max
    synced block per edge table, from the sink itself. Only the newest
    bucket is read, so the poll costs the same at any graph size. A table
    that does not exist yet, or holds no data file yet because its first
    write is still in flight, has synced nothing (``None``); any other
    read failure raises."""
    state: dict[str, int | None] = {}
    for table in (PAYMENTS, RECEIPTS):
        try:
            state[table] = _max_block(spark, f"{out_dir}/{table}")
        except AnalysisException as e:
            if e.getCondition() not in _NOT_CREATED:
                raise
            state[table] = None
    return state
