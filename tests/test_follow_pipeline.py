"""End-to-end tests for the M4 incremental follow pipeline (SURVEY.md
sections 2.6, 3.1-3.2, 5): sources -> graph transforms -> idempotent sink,
replay idempotence, incremental catch-up, retention partition drop, and the
corrupt-record quarantine path. Fixture shapes follow FIXTURES.md F1-F6."""

from __future__ import annotations

import json
import logging
import os
import re

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.sources import (
    enrich_inventory,
    read_blocks,
    read_gateway_inventory,
    split_corrupt,
)
from helium_arango_etl_lite_spark.streaming import (
    apply_retention,
    follow,
    idempotent_append,
    sync_state,
)

NS = 1_000_000_000


def _witness(gateway: str, ts_ns: int, is_valid=True, signal=-90, snr=5.5):
    return {
        "channel": 3,
        "datarate": "SF9BW125",
        "frequency": 904.3,
        "gateway": gateway,
        "is_valid": is_valid,
        "packet_hash": f"ph-{gateway}",
        "signal": signal,
        "snr": snr,
        "timestamp": ts_ns,
    }


def _receipt(gateway: str, ts_ns: int, tx_power=27):
    return {
        "channel": 3,
        "data": "d",
        "datarate": "SF9BW125",
        "frequency": 904.3,
        "gateway": gateway,
        "origin": "p2p",
        "signal": -60,
        "snr": 9.0,
        "timestamp": ts_ns,
        "tx_power": tx_power,
    }


BLOCKS_1 = [
    # F1 edge cases: unhandled txn type in block 100; empty txn list in 102
    {"hash": "bh100", "height": 100, "prev_hash": "bh099", "time": 1_600_000_000,
     "transactions": [{"hash": "p1", "type": "payment_v1"},
                      {"hash": "x1", "type": "assert_location_v1"}]},
    {"hash": "bh101", "height": 101, "prev_hash": "bh100", "time": 1_600_000_060,
     "transactions": [{"hash": "p2", "type": "payment_v2"},
                      {"hash": "r1", "type": "poc_receipts_v1"}]},
    {"hash": "bh102", "height": 102, "prev_hash": "bh101", "time": 1_600_000_120,
     "transactions": []},
    {"hash": "bh103", "height": 103, "prev_hash": "bh102", "time": 1_600_000_180,
     "transactions": [{"hash": "r2", "type": "poc_receipts_v2"}]},
]

BLOCK_NEW = {"hash": "bh104", "height": 104, "prev_hash": "bh103",
             "time": 1_600_000_240,
             "transactions": [{"hash": "p3", "type": "payment_v1"}]}

TXNS = [
    {"hash": "p1", "type": "payment_v1",
     "json": json.dumps({"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
                         "payer": "A", "payee": "B"})},
    # duplicate fetch of the same txn (F2 edge case): must not double edges
    {"hash": "p1", "type": "payment_v1",
     "json": json.dumps({"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
                         "payer": "A", "payee": "B"})},
    {"hash": "p2", "type": "payment_v2",
     "json": json.dumps({"hash": "p2", "fee": 2, "nonce": 1, "payer": "B",
                         "payments": [{"amount": 5, "memo": None, "payee": "C"},
                                      {"amount": 7, "memo": "m", "payee": "D"}]})},
    # r1: receipt present; a second path element that strict path[0] ignores
    {"hash": "r1", "type": "poc_receipts_v1",
     "json": json.dumps({"hash": "r1", "challenger": "CH", "fee": 0,
                         "onion_key_hash": "ok", "secret": "s",
                         "path": [{"challengee": "G1",
                                   "receipt": _receipt("G1", 50 * NS),
                                   "witnesses": [_witness("W1", 53 * NS),
                                                 _witness("W2", 56 * NS, is_valid=None)]},
                                  {"challengee": "GX", "receipt": None,
                                   "witnesses": [_witness("WX", 99 * NS)]}]})},
    # r2: null receipt (F4 edge case) -> tx_power / processing_time_s NULL
    {"hash": "r2", "type": "poc_receipts_v2",
     "json": json.dumps({"hash": "r2", "block": 103, "block_hash": "bh103",
                         "type": "poc_receipts_v2", "challenger": "CH2",
                         "fee": 0, "onion_key_hash": "ok2", "secret": "s2",
                         "path": [{"challengee": "G2", "receipt": None,
                                   "witnesses": [_witness("W3", 77 * NS,
                                                          is_valid=False)]}]})},
    {"hash": "p3", "type": "payment_v1",
     "json": json.dumps({"hash": "p3", "amount": 42, "fee": 1, "nonce": 2,
                         "payer": "E", "payee": "F"})},
]


@pytest.fixture()
def landing(tmp_path):
    blocks_dir = tmp_path / "blocks"
    txns_dir = tmp_path / "txns"
    blocks_dir.mkdir()
    txns_dir.mkdir()
    (blocks_dir / "blocks_0001.jsonl").write_text(
        "\n".join(json.dumps(b) for b in BLOCKS_1) + "\n"
    )
    (txns_dir / "txns_0001.jsonl").write_text(
        "\n".join(json.dumps(t) for t in TXNS) + "\n"
    )
    return {
        "blocks": str(blocks_dir),
        "txns": str(txns_dir),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
        "ckpt2": str(tmp_path / "ckpt2"),
    }


def _run(spark, env, ckpt):
    q = follow(spark, env["blocks"], env["txns"], env["out"], ckpt)
    q.awaitTermination()


def _table(spark, env, name):
    return spark.read.parquet(f"{env['out']}/{name}")


def test_follow_end_to_end_replay_and_incremental(spark, landing):
    _run(spark, landing, landing["ckpt"])

    payments = _table(spark, landing, "payments")
    receipts = _table(spark, landing, "poc_receipts")
    accounts = _table(spark, landing, "accounts")

    # 1 payment_v1 edge (duplicate fetch collapsed) + 2 payment_v2 edges
    rows = {(r["_from"], r["_to"]): r for r in payments.collect()}
    assert set(rows) == {("accounts/A", "accounts/B"),
                        ("accounts/B", "accounts/C"),
                        ("accounts/B", "accounts/D")}
    ab = rows[("accounts/A", "accounts/B")]
    assert (ab["amount"], ab["block"], ab["timestamp"]) == (10, 100, 1_600_000_000)

    # strict path[0]: WX from path[1] excluded; W1+W2 from r1, W3 from r2
    wit = {(r["_from"], r["_to"]): r for r in receipts.collect()}
    assert set(wit) == {("hotspots/G1", "hotspots/W1"),
                       ("hotspots/G1", "hotspots/W2"),
                       ("hotspots/G2", "hotspots/W3")}
    w1 = wit[("hotspots/G1", "hotspots/W1")]
    assert w1["processing_time_s"] == pytest.approx(3.0)  # (53-50) s
    assert w1["tx_power"] == 27 and w1["is_valid"] is True
    w3 = wit[("hotspots/G2", "hotspots/W3")]
    assert w3["processing_time_s"] is None and w3["tx_power"] is None

    assert {r["_key"] for r in accounts.collect()} == {"A", "B", "C", "D"}

    # --- replay: fresh checkpoint reprocesses every file; anti-join sink
    # must keep tables byte-identical (FIXTURES.md F6 replay determinism)
    before = {
        t: sorted(r["_key"] for r in _table(spark, landing, t).collect())
        for t in ("payments", "poc_receipts", "accounts")
    }
    _run(spark, landing, landing["ckpt2"])
    after = {
        t: sorted(r["_key"] for r in _table(spark, landing, t).collect())
        for t in ("payments", "poc_receipts", "accounts")
    }
    assert before == after

    # --- incremental: land one more block file, same checkpoint -> only the
    # new block is processed and appended (follower.py:55-75 catch-up)
    with open(os.path.join(landing["blocks"], "blocks_0002.jsonl"), "w") as f:
        f.write(json.dumps(BLOCK_NEW) + "\n")
    _run(spark, landing, landing["ckpt"])
    payments2 = _table(spark, landing, "payments")
    assert payments2.count() == 4
    ef = payments2.filter(F.col("_from") == "accounts/E").collect()
    assert len(ef) == 1 and ef[0]["amount"] == 42 and ef[0]["block"] == 104

    assert sync_state(spark, landing["out"])["payments"] == 104


def test_corrupt_record_quarantine(spark, tmp_path, landing):
    bad_dir = tmp_path / "bad_blocks"
    bad_dir.mkdir()
    (bad_dir / "blocks.jsonl").write_text(
        json.dumps(BLOCKS_1[0]) + "\n" + "{not json at all\n"
    )
    good, bad = split_corrupt(read_blocks(spark, str(bad_dir)))
    assert good.count() == 1 and bad.count() == 1

    # quarantine flows through the streaming batch path too
    env = dict(landing)
    env["blocks"] = str(bad_dir)
    env["out"] = str(tmp_path / "out_bad")
    _run(spark, env, str(tmp_path / "ckpt_bad"))
    quarantined = spark.read.parquet(f"{env['out']}/quarantine")
    assert quarantined.count() == 1
    assert "not json" in quarantined.collect()[0]["raw"]


def test_retention_partition_drop(spark, tmp_path):
    out = str(tmp_path / "edges")
    df = spark.createDataFrame(
        [("k1", 100), ("k2", 15_000), ("k3", 16_000)], ["_key", "block"]
    )
    idempotent_append(spark, df, out)
    buckets = {n for n in os.listdir(out) if n.startswith("block_bucket=")}
    assert buckets == {"block_bucket=0", "block_bucket=2"}
    dropped = apply_retention(spark, out, tip_height=17_000)
    assert dropped == [0]  # bucket 0 (blocks < 7200) fully below 17000-7200
    remaining = spark.read.parquet(out)
    assert sorted(r["_key"] for r in remaining.collect()) == ["k2", "k3"]


def test_idempotent_append_antijoin(spark, tmp_path):
    out = str(tmp_path / "t")
    a = spark.createDataFrame([("k1", 10), ("k2", 20)], ["_key", "block"])
    idempotent_append(spark, a, out)
    b = spark.createDataFrame([("k2", 20), ("k3", 30)], ["_key", "block"])
    idempotent_append(spark, b, out)
    got = sorted(r["_key"] for r in spark.read.parquet(out).collect())
    assert got == ["k1", "k2", "k3"]


def test_sync_state_missing_table_is_none(spark, tmp_path):
    """Tables the follower has not created yet have synced nothing."""
    got = sync_state(spark, str(tmp_path / "never_written"))
    assert got == {"payments": None, "poc_receipts": None}
    # a first write still in flight: the dir exists, no data file yet
    (tmp_path / "in_flight" / "payments" / "_temporary").mkdir(parents=True)
    got = sync_state(spark, str(tmp_path / "in_flight"))
    assert got == {"payments": None, "poc_receipts": None}


def test_sync_state_unreadable_table_raises(spark, tmp_path):
    """A table that exists but cannot be read is an error, not "no data"."""
    table = tmp_path / "out" / "payments"
    table.mkdir(parents=True)
    (table / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception):
        sync_state(spark, str(tmp_path / "out"))


def test_probe_reads_only_the_batch_buckets(spark, tmp_path):
    """A file Spark cannot read in an older bucket does not stop an append
    to a newer one: the existing-keys probe reads only the batch's
    buckets. Redelivering the batch still inserts nothing."""
    out = tmp_path / "t"
    idempotent_append(spark, spark.createDataFrame([("k1", 100)], ["_key", "block"]), str(out))
    (out / "block_bucket=0" / "part-00000-stray.parquet").write_text("not a parquet file")
    batch = spark.createDataFrame([("k2", 8_000), ("k3", 8_001)], ["_key", "block"])
    idempotent_append(spark, batch, str(out), buckets=[1])
    idempotent_append(spark, batch, str(out), buckets=[1])  # redelivery
    idempotent_append(spark, batch, str(out))  # buckets derived from the frame
    got = spark.read.option("basePath", str(out)).parquet(str(out / "block_bucket=1"))
    assert sorted(r["_key"] for r in got.collect()) == ["k2", "k3"]


def test_sync_state_reads_newest_bucket(spark, tmp_path):
    """The sync height is the max of the newest bucket holding data: older
    buckets are not read, and a newest bucket with only an in-flight
    ``_temporary`` falls back to the one below."""
    out = tmp_path / "out"
    for table, blocks in (("payments", [100, 8_000, 15_001, 14_500]),
                          ("poc_receipts", [7_199, 7_100])):
        df = spark.createDataFrame([(f"k{b}", b) for b in blocks], ["_key", "block"])
        idempotent_append(spark, df, str(out / table))
    (out / "payments" / "block_bucket=0" / "part-00000-stray.parquet").write_text("x")
    assert sync_state(spark, str(out)) == {"payments": 15_001, "poc_receipts": 7_199}
    (out / "payments" / "block_bucket=3" / "_temporary" / "0").mkdir(parents=True)
    assert sync_state(spark, str(out))["payments"] == 15_001


#: Spark jobs of one 32-height follower batch (process_batch + sync_state)
#: on a two-bucket graph in this session's configuration: one bucket list,
#: one stub join shared by the three sinks, probes of the batch's buckets
#: only and a newest-bucket sync height (a join per graph output and
#: whole-table reads took 34-35).
FOLLOW_BATCH_JOBS = 15


def test_follow_batch_job_budget(spark, tmp_path):
    from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource
    from helium_arango_etl_lite_spark.streaming import process_batch

    spark.dataSource.register(HeliumChainDataSource)

    def chain(what, lo, hi):
        return (
            spark.read.format("helium_chain").option("endpoint", "mock://mixed")
            .option("what", what).option("start", lo).option("end", hi).load()
        )

    out = str(tmp_path / "graph")
    process_batch(spark, chain("blocks", 7_000, 7_399), chain("txns", 7_000, 7_399), out)
    sc = spark.sparkContext
    group = f"follow-batch-{os.getpid()}"
    sc.setJobGroup(group, "one follower batch")
    try:
        process_batch(spark, chain("blocks", 7_400, 7_431), chain("txns", 7_400, 7_431), out)
        state = sync_state(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert state == {"payments": 7_431, "poc_receipts": 7_431 - 7_431 % 3}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= FOLLOW_BATCH_JOBS, f"{len(jobs)} jobs"


def test_gateway_inventory_source(spark, tmp_path):
    inv_dir = tmp_path / "inv"
    inv_dir.mkdir()
    (inv_dir / "gateway_inventory_500.csv").write_text(
        "address,owner,location,name\n"
        "hs1,own1,8c2a100acc5ffff,alpha\n"
        "hs2,own2,,beta\n"          # null location -> dropped (loaders.py:35)
        "hs3,own3,zzz-not-hex,gamma\n"  # invalid hex -> [0.0, 0.0]
    )
    inv = read_gateway_inventory(spark, str(inv_dir))
    assert inv.select("inventory_height").distinct().collect()[0][0] == 500

    docs = {r["_key"]: r for r in enrich_inventory(inv).collect()}
    assert set(docs) == {"hs1", "hs3"}
    assert docs["hs1"]["_id"] == "hotspots/hs1"
    assert docs["hs3"]["location_geo"]["coordinates"] == [0.0, 0.0]
    assert docs["hs1"]["location_geo"]["type"] == "Point"


def test_run_service_end_to_end_mock_chain(spark, tmp_path, caplog):
    """The assembled service (python -m entry): mock chain -> streaming
    micro-batches -> distributed txn fetch -> graph tables, drained to a
    target height. Mock chain has one payment_v1 per height."""
    from helium_arango_etl_lite_spark.streaming.service import run_service

    caplog.set_level(logging.INFO, logger="helium_arango_etl_lite_spark.streaming.service")
    state = run_service(
        spark,
        out_dir=str(tmp_path / "graph"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        endpoint="mock://chain",
        start=200, end=240, batch_heights=16,
        timeout_s=120,
    )
    assert state["payments"] == 240
    payments = spark.read.parquet(str(tmp_path / "graph" / "payments"))
    rows = payments.collect()
    assert len(rows) == 41  # one edge per height, 200..240 inclusive
    assert {r["block"] for r in rows} == set(range(200, 241))
    accounts = spark.read.parquet(str(tmp_path / "graph" / "accounts"))
    assert accounts.count() > 0
    # one log line per batch: epoch, heights, batch ms, distance to end
    lines = [r.getMessage() for r in caplog.records if r.name.endswith(".service")]
    assert any(re.fullmatch(r"batch \d+ heights 200\.\.215 \d+ ms, 25 to end", m) for m in lines), lines


def test_service_refreshes_stale_inventory(spark, tmp_path):
    """The dimension-staleness path (follower.py:61-62 + 130-133): the
    service loads the newest inventory drop into the hotspots table when
    the sync height runs past it, and skips the reload while fresh."""
    from helium_arango_etl_lite_spark.streaming.service import (
        refresh_inventory_if_stale, run_service,
    )

    inv_dir = tmp_path / "inv"
    inv_dir.mkdir()
    (inv_dir / "gateway_inventory_100.csv").write_text(
        "address,owner,location,name\nhs1,own1,8c2a100acc5ffff,alpha\n"
    )
    out = tmp_path / "graph"
    state = run_service(
        spark,
        out_dir=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        endpoint="mock://chain",
        start=700, end=720, batch_heights=16,
        timeout_s=120,
        inventory_glob=str(inv_dir),
    )
    assert state["payments"] == 720
    hotspots = {r["_key"]: r for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert set(hotspots) == {"hs1"}
    assert hotspots["hs1"]["_id"] == "hotspots/hs1"
    assert hotspots["hs1"]["inventory_height"] == 100

    # fresh enough -> no re-read even though a new drop landed
    (inv_dir / "gateway_inventory_110.csv").write_text(
        "address,owner,location,name\nhs2,own2,8c2a100acc5ffff,beta\n"
    )
    h = refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=500, inventory_height=100
    )
    assert h == 100  # within staleness: untouched
    # stale again -> newest drop replaces the dimension
    h = refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=700, inventory_height=100
    )
    assert h == 110
    keys = {r["_key"] for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert keys == {"hs2"}
