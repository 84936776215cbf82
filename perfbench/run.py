"""Benchmark of the follower ETL and the analytics catalog.

Run from the root of a checkout:

    python3 perfbench/run.py --workload follow_tail --seed 1 --seconds 15 --trace 0

It prints one JSON report line (host record, the named metrics with
units, failure counts) and, as its last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "helium_arango_etl_lite_spark"
WORKLOADS = ("follow_tail", "catalog")
DEADLINE_S = 170.0  # a run that is not done by then is killed, no result
MAX_CPUS = 4

log = logging.getLogger("perfbench")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for the Spark driver, its JVM and the Python workers: the
    checkout on PYTHONPATH (executors import the package to run the
    chain DataSource), every scratch path inside ``work``, and, for a
    traced run, Spark's event log through ``SPARK_GRAFT_EXTRA_CONF``."""
    from perfbench.trace import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or MAX_CPUS), os.cpu_count() or 1, MAX_CPUS)
    extra = [
        os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""),
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        extra.append(event_log_conf(os.path.join(work, "eventlog")))
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_EXTRA_CONF": ";".join(e for e in extra if e),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def host_record(spark, args, env) -> dict:
    from perfbench import fixtures

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "sf": fixtures.SF if args.workload == "catalog" else None,
        "seed": args.seed,
        "git_commit": commit,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def install_layer_spans(tracer) -> None:
    """Wrap the layer functions ``streaming.follow.process_batch`` calls,
    in that module's namespace, so each call is a span."""
    from perfbench.workloads import FOLLOW

    follow = importlib.import_module(FOLLOW)

    for attr in ("payment_edges", "witness_edges", "account_vertices"):
        tracer.wrap(follow, attr, f"graph.{attr}")

    def offered(spark, df, path, *a, **k):
        # rows offered to the sink; counted outside the sink span
        with tracer.span("trace.count"):
            return {"offered": df.count(), "table": os.path.basename(path)}

    tracer.wrap(follow, "idempotent_append", "sink.append", before=offered)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr,
                        format="%(name)s %(levelname)s %(message)s")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout root", file=sys.stderr)
        return 2
    from perfbench.cpu import host_steal

    steal0 = host_steal()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = prepare_env(work, bool(args.trace))

    from perfbench import fixtures, layers, stats, workloads

    # catalog tables are built once per checkout; not part of set-up time
    build_s = 0.0
    sf_dir = None
    if args.workload == "catalog":
        t = time.time()
        sf_dir = fixtures.ensure_tables(os.path.join(ROOT, ".perfbench"))
        build_s = time.time() - t

    watchdog = threading.Timer(DEADLINE_S + build_s, _abort)
    watchdog.daemon = True
    watchdog.start()

    from helium_arango_etl_lite_spark.session import get_spark
    from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource
    from perfbench.cpu import CpuClock
    from perfbench.trace import Tracer

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.dataSource.register(HeliumChainDataSource)
    session_start_s = time.time() - T_START - build_s
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    tracer = Tracer(spark, bool(args.trace))
    host = host_record(spark, args, env)
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds,
                        os.path.join(work, "data"), CpuClock(os.getpid(), jvm_pid))
    t_warm = time.time()
    try:
        install_layer_spans(tracer)
        if args.workload == "catalog":
            res = workloads.catalog(ctx, sf_dir)
        else:
            res = workloads.follow_tail(ctx)
    except Exception as exc:  # noqa: BLE001 - reported as a failed run
        log.exception("workload %s aborted", args.workload)
        res = ctx.res
        res.attempted += 1
        res.failed += 1
        res.errors.append(repr(exc))
    finally:
        tracer.close()
    rss = peak_rss_mb([os.getpid(), jvm_pid])
    steal = [b - a for a, b in zip(steal0, host_steal())]
    stop_spark(spark)

    setup_end = res.setup_end or time.time()
    setup_s = setup_end - T_START - build_s
    ref = stats.median(res.ref_ms) if res.ref_ms else float("nan")
    # gated: the operation's wall in reference-job walls (see README.md)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_wall_rel": (res.op_wall_ms / ref, "ratio"),
    }
    named = {
        **e2e,
        "op_ms_p50": (res.op_wall_ms, "ms"),
        "ref_ms_p50": (ref, "ms"),
        "op_cpu_ms": (res.op_cpu, "ms"),
        "work_per_s": (res.work / res.window_s if res.window_s else float("nan"), "1/s"),
        **{f"op_cpu_ms.{k}": (v, "ms") for k, v in res.cpu_per_op().items()},
        "peak_rss_mb": (rss, "MB"),
        "failed_ratio": (res.failed / max(res.attempted, 1), "ratio"),
        "ops_attempted": (res.attempted, "count"),
        **res.named,
    }
    report = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "build_s": round(build_s, 3),
        # share of the machine's CPU time its host held back during the run
        "host_steal_pct": 100.0 * steal[0] / max(steal[1], 1),
        "session_start_s": session_start_s,
        "warmup_and_setup_s": setup_end - t_warm,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "op_ms": res.op_ms,
        "op_cpu_ms": res.op_cpu_ms,
        "ref_ms": res.ref_ms,
        "errors": res.errors[:20],
    }
    if args.trace:
        elog = layers.load_event_log(os.path.join(work, "eventlog"))
        per_layer = layers.per_layer(
            tracer, elog, res, session_start_s=session_start_s,
            warmup_s=setup_end - t_warm, peak_rss_mb=rss,
        )
        report["per_layer"] = per_layer
        report["spans"] = layers.span_table(tracer, elog)
        report["progress"] = tracer.stream_progress()
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        metrics = per_layer
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()

    # a metric with no sample is NaN: printed as null, and the run as
    # incorrect, since JSON has no NaN
    for m in metrics.values():
        if m["value"] != m["value"]:
            m["value"] = None
    ok = res.failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps(
        {k: v for k, v in report.items() if k not in ("spans", "progress")}, default=str
    ))
    print(json.dumps({
        "correct": ok,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }))
    return 0


def _abort() -> None:
    """Deadline passed: kill the JVM (its Python workers follow) and exit
    without a result."""
    print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting", file=sys.stderr)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
    finally:
        os._exit(3)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
