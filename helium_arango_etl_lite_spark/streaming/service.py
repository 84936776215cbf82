"""The assembled follower service (reference etl.py:3-5 + Follower.run,
follower.py:55-75) — everything wired together:

    chain (JSON-RPC / mock) --readStream--> blocks micro-batches
        -> per-batch txn-envelope fetch (distributed DataSource read)
        -> graph transforms (operators/graph.py)
        -> idempotent block-bucketed sink (streaming/sink.py)
        -> retention partition drop (follower.py:210-214 analog)

Run offline/demo:  ``python -m helium_arango_etl_lite_spark --start 100
--end 160`` (mock chain); point ``--endpoint`` at a real node for live
follow. The checkpoint dir replaces the reference's ``follower_info``
resume doc; stop/restart continues where the last committed batch ended.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.datasource import HeliumChainDataSource
from ..sources.inventory import enrich_inventory, read_gateway_inventory
from .follow import process_batch, sync_state
from .sink import RETENTION_BLOCKS, apply_retention

#: dimension staleness bound (reference follower.py:61-62): refresh the
#: hotspot inventory when the chain tip has advanced this many blocks past
#: the inventory's height.
INVENTORY_STALENESS_BLOCKS = 500

log = logging.getLogger(__name__)


def refresh_inventory_if_stale(
    spark: SparkSession,
    inventory_glob: str,
    out_dir: str,
    sync_height: int,
    inventory_height: int | None,
    staleness: int = INVENTORY_STALENESS_BLOCKS,
) -> int | None:
    """Reference follower.py:61-62 + 130-133: when ``sync_height`` runs
    more than ``staleness`` blocks past the loaded inventory, re-read the
    latest ``gateway_inventory_{height}.csv[.gz]`` drop, geo-enrich it,
    and bulk-replace the ``hotspots`` dimension table.

    Returns the new inventory height (or the old one when fresh enough /
    no files). The replace is a parquet overwrite — the slowly-refreshed
    dimension pattern where downstream joins re-broadcast the new
    snapshot on their next micro-batch.
    """
    if inventory_height is not None and sync_height - inventory_height <= staleness:
        return inventory_height
    inv = read_gateway_inventory(spark, inventory_glob)
    top = inv.agg(F.max("inventory_height")).collect()[0][0]
    if top is None or (inventory_height is not None and top <= inventory_height):
        return inventory_height  # nothing newer landed
    latest = inv.filter(F.col("inventory_height") == top)
    enrich_inventory(latest).write.mode("overwrite").parquet(
        f"{out_dir}/hotspots"
    )
    return int(top)


def run_service(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    endpoint: str = "mock://chain",
    start: int = 1,
    end: int | None = None,
    batch_heights: int = 32,
    retention_window: int = RETENTION_BLOCKS,
    poll_s: float = 0.5,
    timeout_s: float | None = None,
    strict_path0: bool = True,
    inventory_glob: str | None = None,
    inventory_staleness: int = INVENTORY_STALENESS_BLOCKS,
) -> dict[str, int | None]:
    """Follow the chain from ``start`` and materialize the graph tables.

    With ``end`` set the service drains up to that height and returns
    (offline parity mode); without it, it follows until ``timeout_s``.
    Returns the final sync state (max block per edge table).
    """
    spark.dataSource.register(HeliumChainDataSource)

    reader = (
        spark.readStream.format("helium_chain")
        .option("endpoint", endpoint)
        .option("start", str(start))
        .option("max_heights_per_batch", str(batch_heights))
    )
    if end is not None:
        reader = reader.option("end", str(end))
    blocks_stream = reader.load()

    def batch_fn(batch_blocks: DataFrame, epoch_id: int) -> None:
        t0 = time.perf_counter()
        if batch_blocks.isEmpty():
            return
        bounds = batch_blocks.agg(
            F.min("height").alias("lo"), F.max("height").alias("hi")
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        txns = (
            spark.read.format("helium_chain")
            .option("endpoint", endpoint)
            .option("what", "txns")
            .option("start", str(lo))
            .option("end", str(hi))
            .load()
        )
        process_batch(spark, batch_blocks, txns, out_dir, strict_path0=strict_path0)
        # per-batch sync latency, as the reference prints per block (follower.py:56,72)
        lag = "" if end is None else f", {end - hi} to end"
        ms = (time.perf_counter() - t0) * 1000
        log.info("batch %d heights %d..%d %.0f ms%s", epoch_id, lo, hi, ms, lag)

    query = (
        blocks_stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )

    deadline = time.time() + timeout_s if timeout_s else None
    inv_height: int | None = None
    try:
        while query.isActive:
            state = sync_state(spark, out_dir)
            tip = state.get("payments")
            if inventory_glob is not None and tip is not None:
                inv_height = refresh_inventory_if_stale(
                    spark, inventory_glob, out_dir, tip, inv_height,
                    staleness=inventory_staleness,
                )
            if end is not None and tip is not None and tip >= end:
                break
            if deadline is not None and time.time() > deadline:
                break
            time.sleep(poll_s)
    finally:
        query.stop()
        query.awaitTermination(30)

    state = sync_state(spark, out_dir)
    tip = max((h for h in state.values() if h is not None), default=None)
    if tip is not None:
        # offline drain parity: pick up any inventory drop the poll loop
        # missed before returning, then apply retention
        if inventory_glob is not None:
            refresh_inventory_if_stale(
                spark, inventory_glob, out_dir, tip, inv_height,
                staleness=inventory_staleness,
            )
        for table in ("payments", "poc_receipts"):
            apply_retention(spark, f"{out_dir}/{table}", tip, retention_window)
    return state
