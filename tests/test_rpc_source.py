"""RPC landing-zone fetcher tests: JSON-RPC result/error contract
(client.py:66-82 parity) and end-to-end fetch -> land -> Spark transform."""

from __future__ import annotations

import json

import pytest

from helium_arango_etl_lite_spark.operators.graph import payment_edges, typed_stubs
from helium_arango_etl_lite_spark.sources import (
    RpcError, RpcLandingZone, read_blocks, read_txns, rpc_call, split_corrupt,
)

CHAIN = {
    100: {"hash": "bh100", "height": 100, "prev_hash": "bh099",
          "time": 1_600_000_000,
          "transactions": [{"hash": "p1", "type": "payment_v1"}]},
    101: {"hash": "bh101", "height": 101, "prev_hash": "bh100",
          "time": 1_600_000_060, "transactions": []},
}
TXNS = {
    "p1": {"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
           "payer": "A", "payee": "B"},
}


def fake_transport(endpoint: str, payload: dict) -> dict:
    method, params = payload["method"], payload.get("params", {})
    if method == "block_height":
        return {"result": max(CHAIN)}
    if method == "block_get":
        block = CHAIN.get(params.get("height"))
        if block is None:
            return {"error": {"code": -100, "message": "not found"}}
        return {"result": block}
    if method == "transaction_get":
        txn = TXNS.get(params.get("hash"))
        if txn is None:
            return {"error": {"code": -100, "message": "not found"}}
        return {"result": txn}
    return {"error": {"code": -32601, "message": "unknown method"}}


def test_rpc_error_contract():
    assert rpc_call("x", "block_height", transport=fake_transport) == 101
    # -100 -> None (reference treats as "not ready", client.py:76-81)
    assert rpc_call(
        "x", "block_get", {"height": 999}, transport=fake_transport
    ) is None
    with pytest.raises(RpcError):
        rpc_call("x", "nope", transport=fake_transport)


def test_fetch_window_lands_files_spark_can_process(spark, tmp_path):
    zone = RpcLandingZone(
        "http://node:4467",
        str(tmp_path / "blocks"),
        str(tmp_path / "txns"),
        transport=fake_transport,
    )
    assert zone.height() == 101
    bpath, tpath = zone.fetch_window(99, 101)  # 99 missing -> skipped

    landed = [json.loads(x) for x in open(bpath)]
    assert [b["height"] for b in landed] == [100, 101]

    blocks, bad = split_corrupt(read_blocks(spark, str(tmp_path / "blocks")))
    txns, _ = split_corrupt(read_txns(spark, str(tmp_path / "txns")))
    assert bad.count() == 0
    edges = payment_edges(typed_stubs(blocks, txns)).collect()
    assert len(edges) == 1
    assert edges[0]["_from"] == "accounts/A" and edges[0]["amount"] == 10
