"""Schema-first JSON-lines sources (SURVEY.md section 2.1).

The reference pulls blocks and transactions over JSON-RPC one object at a
time (client.py:25-36, :39-51 — an N+1 request pattern). The engine's
equivalent source is a height-ordered JSON-lines landing zone: one file per
fetch window, one block/txn per line. ``spark.read.json`` with an explicit
``StructType`` replaces pydantic ``parse_obj`` (client.py:36); PERMISSIVE
mode with a ``_corrupt_record`` column replaces the ValidationError retry
loop (follower.py:58-69) — bad lines are quarantined, not retried, and a
re-fetch simply lands a new file that the stream picks up.

Scale notes: a JSON-lines directory is splittable per-file; at 100 TB the
landing zone would be thousands of files and every executor reads its own
slice — no driver bottleneck, no N+1. Schema is always supplied explicitly
(never inferred), so the reader makes exactly one pass.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..schemas import BLOCK_SCHEMA, TXN_ENVELOPE_SCHEMA

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    s = copy.deepcopy(schema)
    return s.add(CORRUPT_COL, StringType(), True)


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a block dump. Malformed lines surface as rows whose
    data fields are NULL and whose ``_corrupt_record`` holds the raw line
    (stand-in for client.py:36's ValidationError)."""
    return (
        spark.read.schema(_with_corrupt(BLOCK_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def stream_blocks(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming tail-follow of the block landing zone — the engine's
    ``while True: process_block(sync_height)`` (follower.py:55-75).

    Each newly landed file becomes (part of) a micro-batch; offsets live in
    the query's checkpoint, replacing the hand-rolled ``follower_info``
    state document (follower.py:116-128).
    """
    reader = (
        spark.readStream.schema(_with_corrupt(BLOCK_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def read_txns(spark: SparkSession, path: str) -> DataFrame:
    """Transaction envelopes ``(hash, type, json)`` — the columnar stand-in
    for the reference's per-txn RPC (client.py:39-51). Each graph output
    applies its type's schema later via ``F.from_json``, after the one stub
    join (operators/graph.py:typed_stubs)."""
    return (
        spark.read.schema(_with_corrupt(TXN_ENVELOPE_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a PERMISSIVE read into (good, quarantine).

    Spark refuses a filter that references only the internal corrupt-record
    column of an un-materialised JSON scan (SPARK-21610), so the frame is
    cached first; callers in a streaming ``foreachBatch`` already hold a
    materialised batch and can filter directly.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad
