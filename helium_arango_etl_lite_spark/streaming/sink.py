"""Idempotent upsert sink + retention (SURVEY.md sections 2.1, 2.6).

The reference's sink is ArangoDB ``importBulk(..., onDuplicate="ignore")``
(follower.py:205-207): deterministic MD5 keys make replays no-ops. The
engine's equivalent is *anti-join append* over a Parquet table partitioned
by block bucket:

* **idempotence** — incoming keys are anti-joined against the keys already
  present, so re-processing a micro-batch (Structured Streaming's replay
  model) inserts nothing twice;
* **partition pruning** — the table is laid out as
  ``block_bucket = block // 7200`` directories. The anti-join's probe of
  existing keys reads only the directories of the buckets the incoming
  batch touches, schema pinned (no table listing, no footer inference),
  so its cost is proportional to the batch's block span, not the table
  size — load-bearing at 100 TB;
* **retention** — the reference's disabled AQL delete (follower.py:210-214,
  "deletions not optimized yet") becomes a metadata-only partition drop:
  remove whole ``block_bucket=N`` directories below the floor. No row-level
  rewrite. On a lakehouse table (Delta/Iceberg) this is
  ``DELETE WHERE block_bucket < floor`` / ``DROP PARTITION``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference retention window: 7200 blocks (~5 days), .env.template:13-14.
RETENTION_BLOCKS = 7200

BUCKET_COL = "block_bucket"


def with_block_bucket(df: DataFrame, blocks_per_bucket: int = RETENTION_BLOCKS) -> DataFrame:
    """Add the partition column ``block_bucket = block // N``. Sized to the
    retention window so retention is exactly one partition boundary."""
    return df.withColumn(
        BUCKET_COL, F.floor(F.col("block") / blocks_per_bucket).cast("long")
    )


def block_buckets(df: DataFrame) -> list[int]:
    """The distinct ``block_bucket`` values of ``df.block``, deduplicated on
    the driver: one job with no shuffle, one long per row collected."""
    bucketed = with_block_bucket(df.select("block")).select(BUCKET_COL)
    return sorted({r[0] for r in bucketed.collect()})


def has_data_file(path: str) -> bool:
    """Whether ``path`` holds a data file: Spark skips ``_``/``.`` names
    (``_temporary``, ``_SUCCESS``, checksums)."""
    return any(not n.startswith(("_", ".")) for n in os.listdir(path))


def _existing_keys(
    spark: SparkSession, path: str, key_col: str, buckets: list[int] | None
) -> DataFrame | None:
    """The keys already in the table, read from only the ``block_bucket=N``
    directories of ``buckets`` (the unpartitioned table when ``None``)
    that hold data; ``None`` when there are none."""
    schema, dirs = f"`{key_col}` string", [path]
    if buckets is not None:
        schema += f", {BUCKET_COL} long"
        dirs = [f"{path}/{BUCKET_COL}={b}" for b in buckets]
    dirs = [d for d in dirs if os.path.isdir(d) and has_data_file(d)]
    if not dirs:
        return None
    return spark.read.schema(schema).option("basePath", path).parquet(*dirs).select(key_col)


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col: str = "_key",
    buckets: list[int] | None = None,
) -> None:
    """Append rows whose ``key_col`` is not already present — the engine's
    ``onDuplicate="ignore"`` (follower.py:205-207).

    ``df`` must already be deduplicated within itself (the graph operators
    end in ``dropDuplicates(["_key"])``). When the frame carries a ``block``
    column the table is written partitioned by ``block_bucket`` and the
    existing-keys probe reads only the touched buckets: ``buckets`` when
    the caller knows them (every bucket of ``df``; a superset is fine),
    else derived from ``df``.
    """
    if "block" in df.columns:
        df = with_block_bucket(df)
        if buckets is None:
            buckets = block_buckets(df)
    else:
        buckets = None

    existing = _existing_keys(spark, path, key_col, buckets)
    if existing is not None:
        df = df.join(existing, key_col, "left_anti")

    writer = df.write.mode("append")
    if buckets is not None:
        writer = writer.partitionBy(BUCKET_COL)
    writer.parquet(path)


def apply_retention(
    spark: SparkSession,
    path: str,
    tip_height: int,
    window: int = RETENTION_BLOCKS,
    blocks_per_bucket: int = RETENTION_BLOCKS,
) -> list[int]:
    """Drop every bucket whose entire block range is below
    ``tip_height - window`` (follower.py:210-214 made metadata-only).

    A bucket B covers blocks [B*N, (B+1)*N); it is droppable iff
    ``(B+1)*N <= floor``. Returns the dropped bucket ids. Local-FS
    implementation removes partition directories; on Delta/Iceberg this is
    the same decision feeding ``DELETE WHERE``/``DROP PARTITION``.
    """
    floor = tip_height - window
    dropped: list[int] = []
    if not os.path.isdir(path):
        return dropped
    for name in os.listdir(path):
        if not name.startswith(f"{BUCKET_COL}="):
            continue
        bucket = int(name.split("=", 1)[1])
        if (bucket + 1) * blocks_per_bucket <= floor:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(bucket)
    return sorted(dropped)
