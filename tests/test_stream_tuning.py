"""Focused tests for streaming/tuning.py (optimization round 13): the
size-derived stateful-shuffle partition count and the scoped conf."""
import os

import pytest

from helium_arango_etl_lite_spark.streaming.tuning import (
    MAX_PARTS,
    MIN_PARTS,
    TARGET_MB,
    stream_partitions,
    stream_shuffle_partitions,
)

MB = 1 << 20


def _mkfile(path, n):
    """A sparse file of ``n`` bytes: sized like real input, costs no disk."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(n)


def test_floor_for_tiny_sources(tmp_path):
    _mkfile(str(tmp_path / "src" / "b0.parquet"), 1024)
    assert stream_partitions(str(tmp_path / "src")) == MIN_PARTS == 8


def test_scales_linearly_with_bytes(tmp_path):
    assert TARGET_MB == 32
    _mkfile(str(tmp_path / "a" / "x"), 10 * TARGET_MB * MB)
    assert stream_partitions(str(tmp_path / "a")) == 10
    # multiple source dirs sum (the stream-stream join case)
    _mkfile(str(tmp_path / "b" / "y"), 6 * TARGET_MB * MB)
    assert stream_partitions(str(tmp_path / "a"), str(tmp_path / "b")) == 16
    # a partial target's worth of bytes still needs its own partition
    _mkfile(str(tmp_path / "b" / "z"), 1)
    assert stream_partitions(str(tmp_path / "a"), str(tmp_path / "b")) == 17


def test_cap(tmp_path):
    _mkfile(str(tmp_path / "a" / "x"), (MAX_PARTS + 100) * TARGET_MB * MB)
    assert stream_partitions(str(tmp_path / "a")) == MAX_PARTS == 4096


def test_missing_dir_gives_floor(tmp_path):
    assert stream_partitions(str(tmp_path / "nope")) == 8


@pytest.mark.usefixtures()
def test_conf_scoped_and_restored(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_shuffle_partitions(spark, 7):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with stream_shuffle_partitions(spark, 9):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
