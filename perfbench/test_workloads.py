"""Tests of the workloads' failure accounting and expected outputs (no
Spark needed): ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

from perfbench import workloads


def _ctx():
    return workloads.Ctx(spark=None, tracer=None, seed=1, seconds=1.0, work_dir="")


def test_an_operation_fails_once_however_many_checks_differ():
    ctx = _ctx()
    with ctx.op("first"):
        ctx.check(False, "rows differ")
        ctx.check(False, "never reached")
    with ctx.op("second"):
        ctx.check(True, "holds")
    with ctx.op("third"):
        raise ValueError("boom")
    assert (ctx.res.attempted, ctx.res.failed) == (3, 2)
    assert ctx.res.errors[0] == "first: rows differ"
    assert "ValueError: boom" in ctx.res.errors[1]


def test_expected_counts_follow_the_mock_chain():
    # heights 1..6: one payment each; receipts at 3 and 6, two witnesses each
    got = workloads.expected_counts(1, 6)
    assert got["payments"] == 6 and got["poc_receipts"] == 4
    # payers acct1..acct6, payees acct7,14,21,28,35,42: twelve accounts
    assert got["accounts"] == 12
    assert workloads.expected_sync(7) == {"payments": 7, "poc_receipts": 6}


def test_canonical_rows_ignore_column_and_row_order():
    a = workloads.canonical([(1, "x", 0.5), (2, None, True)], ["k", "s", "v"])
    b = workloads.canonical([(True, None, 2), (0.5, "x", 1)], ["v", "s", "k"])
    assert a == b
    assert ("1", "x", "0.5") in a and ("2", "NULL", "True") in a
