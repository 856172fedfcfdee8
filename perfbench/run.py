"""Benchmark of the etl_entregas_pyspark_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client in a closed loop on
``local[<cpus>]``: each operation starts after the previous one ended.

A run:
1. builds the session (``setup_s`` counts from process start to a ready
   session with the engine imported);
2. generates the workload's inputs from ``--seed`` into a scratch
   directory inside the checkout, removed when the run ends;
3. makes one untimed pass that checks every output, then
   ``WARMUP_PASSES`` untimed warm-up passes;
4. repeats timed passes until ``--seconds`` have elapsed;
5. stops the JVM and waits for it to exit.

With ``--trace 1`` the session also writes an uncompressed event log, the
operations carry Spark job groups, a streaming listener records every
trigger, and after the timed passes the workload's appendix runs (the
entregas operator ladder, the engine-mix streaming replay); the run
reports the per-layer metrics of BENCHMARK.json.
Otherwise it reports the end-to-end metrics. Human-readable lines come
first, the JSON result is the last line of standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Untimed passes after the correctness pass: pass times keep falling
# for several passes while the JVM compiles.
WARMUP_PASSES = 2
APPENDIX_REPEATS = 2


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=False)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Point every temporary file of the engine, Spark and Python at the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_REPLAY_CKPT"] = os.path.join(run_dir, "replay")
    os.makedirs(os.environ["SPARK_GRAFT_REPLAY_CKPT"], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR


def session_config(run_dir: str, traced: bool) -> dict:
    from etl_entregas_pyspark_spark import load_config

    cfg = load_config()
    cpus = len(os.sched_getaffinity(0))
    cfg["spark"]["master"] = f"local[{cpus}]"
    cfg["spark"]["log_level"] = "ERROR"
    confs = cfg["spark"]["configs"]
    confs.update({
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
    })
    if traced:
        eventlog = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file per application
        })
    return cfg


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the JVM's Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_entregas_pyspark_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    contract = load_contract()
    names = [w["name"] for w in contract["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, f".perfbench-run-{os.getpid()}")
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, contract, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args: argparse.Namespace, contract: dict, run_dir: str) -> int:
    prepare_env(run_dir)
    traced = bool(args.trace)
    from etl_entregas_pyspark_spark import build_session
    import etl_entregas_pyspark_spark.queries  # noqa: F401

    cfg = session_config(run_dir, traced)
    spark = build_session(cfg)
    import hostmeter

    setup_s = hostmeter.process_age_s()
    import report
    from tracing import Recorder, parse_event_log, progress_listener_class
    from workloads import WORKLOADS

    pid = os.getpid()
    listener = None
    try:
        rec = Recorder(args.workload, spark, traced)
        if traced:
            listener = progress_listener_class()()
            spark.streams.addListener(listener)
        wl = WORKLOADS[args.workload](spark, cfg, run_dir, args.seed, rec)
        wl.prepare()
        calib_s = hostmeter.calibrate()
        passes: list[report.PassStats] = []
        appendix: dict[str, float] = {}
        with hostmeter.PeakMemory(pid) as mem:
            with rec.passage(-1):
                wl.gate()
                for _ in range(WARMUP_PASSES):
                    wl.run_pass()
            window_start = time.time()
            while not passes or time.time() - window_start < args.seconds:
                cpu0, steal0 = hostmeter.tree_cpu_s(pid), hostmeter.steal_s()
                with rec.passage(len(passes)):
                    wl.run_pass()
                passes.append(report.PassStats(
                    wall_s=rec.pass_seconds()[len(passes)],
                    cpu_s=hostmeter.tree_cpu_s(pid) - cpu0,
                    steal_s=hostmeter.steal_s() - steal0,
                ))
            if traced:
                with rec.passage(-2):
                    appendix = wl.appendix(APPENDIX_REPEATS)
        if listener is not None:
            spark.streams.removeListener(listener)
        store_bytes = wl.store_bytes()
    finally:
        stop_spark(spark)

    result = report.Result(
        workload=wl, passes=passes, setup_s=setup_s, peak_rss_mb=mem.peak_mb, calib_s=calib_s,
        warmup_s=rec.pass_seconds()[-1],
    )
    lines = report.end_to_end(result)
    if traced:
        t0 = time.time()
        stats = parse_event_log(os.path.join(run_dir, "eventlog"), rec.key_at)
        parse_s = time.time() - t0
        layer = report.per_layer(result, rec, stats, listener.snapshot(), appendix, store_bytes, parse_s)
        lines.update(layer)
        metrics = {m["name"]: (lines.get(m["name"], 0.0), m["unit"]) for m in contract["per_layer"]}
        report.print_counts(rec, stats, args.workload)
    else:
        metrics = {m["name"]: (lines[m["name"]], m["unit"]) for m in contract["end_to_end"]}
    report.print_human(result, lines)
    for p in wl.problems[:20]:
        print(f"FAILED {p}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
