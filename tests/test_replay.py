"""The streaming-replay harness (streaming/replay.py): batch order, the
bounded wait, error surfacing and cleanup, and per-batch progress logs."""
import logging
import re
import time

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.streaming import replay as rp


def _slices(spark, n):
    return [spark.range(10 * i, 10 * i + 10) for i in range(n)]


def _assert_clean(spark, prev):
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.streams.active == []


def test_slice_i_is_batch_i(spark, caplog):
    """Files are ordered by mtime, not name (part-files carry random
    UUIDs), so five slices land in five batches in slice order."""
    with caplog.at_level(logging.INFO, logger=rp.__name__):
        out = rp.replay(
            spark, "t_order", [_slices(spark, 5)], lambda s: s,
            mode="append", sink=None, key=None,
        )
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["batch_id"] == r["id"] // 10 for r in rows)
    lines = [r for r in caplog.records if r.name == rp.__name__]
    assert len(lines) == 5
    assert "batch 4: 10 rows in" in lines[-1].getMessage()


def test_keyed_readback_keeps_latest_batch(spark):
    """With a key, the result is each key's rows from its latest batch."""
    slices = [
        spark.range(4).select((F.col("id") % 2).alias("k"), F.lit(i).alias("v"))
        for i in range(3)
    ]
    out = rp.replay(
        spark, "t_keyed", [slices], lambda s: s,
        mode="append", sink=None, key=["k"],
    )
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [
        (0, 2), (0, 2), (1, 2), (1, 2),
    ]


def test_sink_error_raises_and_cleans_up(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def sink(df, bid, res):
        raise ValueError("sink exploded")

    with pytest.raises(Exception, match="sink exploded"):
        rp.replay(
            spark, "t_err", [_slices(spark, 2)], lambda s: s,
            mode="append", sink=sink, key=None,
        )
    _assert_clean(spark, prev)


def test_stall_raises_with_last_progress(spark, monkeypatch):
    """Batch 0 completes, batch 1's sink outlasts the stall window: the
    replay stops the query and raises with its last progress."""
    monkeypatch.setattr(rp, "STALL_S", 4.0)
    monkeypatch.setattr(rp, "_POLL_S", 0.2)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def sink(df, bid, res):
        if bid >= 1:
            time.sleep(10)
        df.write.mode("append").parquet(res)

    with pytest.raises(RuntimeError, match="no micro-batch completed") as e:
        rp.replay(
            spark, "t_stall", [_slices(spark, 2)], lambda s: s,
            mode="append", sink=sink, key=None,
        )
    assert "lastProgress=" in str(e.value)
    assert re.search(r'"batchId"\s*:\s*0\b', str(e.value))
    _assert_clean(spark, prev)

