"""Tests of the CPU accounting (no Spark needed):
``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os

from perfbench import cpu, workloads

HZ = os.sysconf("SC_CLK_TCK")


def _line(name: str, ppid: int, utime: int, stime: int, cutime: int, cstime: int) -> str:
    # proc(5): pid (comm) state ppid ... field 14 utime, 15 stime, 16 cutime, 17 cstime
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 30
    return f"123 ({name}) " + " ".join(rest)


def test_stat_line_with_spaces_and_parens_in_the_name():
    name, ppid, own, children = cpu.parse_stat(_line("C2 CompilerThre) x", 7, 300, 100, 20, 30))
    assert name == "C2 CompilerThre) x" and ppid == 7
    assert own == 400 / HZ and children == 50 / HZ


def test_an_operation_costs_every_process_but_the_jit():
    assert cpu.work_ms({"driver_py": 1.0, "jvm": 10.0, "jit": 50.0, "workers": 4.0}) == 15.0


def test_record_splits_an_operation_by_process():
    ctx = workloads.Ctx(spark=None, tracer=None, seed=1, seconds=1.0, work_dir="")
    t0 = (10.0, {"driver_py": 1.0, "jvm": 2.0, "jit": 3.0, "workers": 0.0})
    t1 = (12.5, {"driver_py": 1.5, "jvm": 4.0, "jit": 9.0, "workers": 1.0})
    assert ctx.record(False, t0, t1) == (2500.0, 3500.0)
    ctx.record(True, t0, t1)  # traced: its wall only
    ctx.res.passes = 1
    assert ctx.res.op_ms == [2500.0] and ctx.res.op_cpu_ms == [3500.0]
    assert ctx.res.traced_op_ms == [2500.0]
    assert ctx.res.cpu_per_op() == {"driver_py": 500.0, "jvm": 2000.0, "jit": 6000.0, "workers": 1000.0}


def test_reference_jobs_are_left_out_of_samples_and_the_first_is_not_kept(monkeypatch):
    ctx = workloads.Ctx(spark=None, tracer=None, seed=1, seconds=1.0, work_dir="")
    now = {"wall": 100.0, "cpu": 5.0}
    rows = [{"s": 0}] * 100 + [{"s": workloads.REF_ROWS * (workloads.REF_ROWS - 1) // 2}]
    took = iter([0.3, 0.1, 0.2, 0.1])

    def job(spark):
        dt = next(took)
        now["wall"] += dt
        now["cpu"] += 2 * dt
        return rows

    monkeypatch.setattr(workloads, "reference_job", job)
    monkeypatch.setattr(ctx, "_clock", lambda: (now["wall"], {"jvm": now["cpu"]}))
    before = ctx.sample()
    ctx.reference(record=True)
    after = ctx.sample()
    assert after[0] == before[0] and after[1] == before[1]
    assert [round(x) for x in ctx.res.ref_ms] == [100, 200, 100]
    assert ctx.res.failed == 0
