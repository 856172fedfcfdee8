"""sf1 bench record: replicate sf0.1 facts 10× in /tmp (shifted keys —
`tools/growth_exponent.py`'s layout, including the worst-case IDENTICAL
10× document duplication) and run the full `bench.py` headline battery
against it, writing `BENCH_SF1.json` at the repo root.

This turns SCALE.md's 100×-survival arguments into a measured artifact at
one decade above the driver's bench point (r4 VERDICT residual #3).

Usage: python tools/bench_sf1.py [replicas=10]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_replica(replicas: int) -> tuple[str, dict]:
    from pyspark.sql import SparkSession

    from tools.growth_exponent import FACTS, build

    spark = (
        SparkSession.builder.appName("bench-sf1-build")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out_dir = build(spark, replicas)
        rows = {name: spark.read.parquet(f"{out_dir}/{name}.parquet").count() for name in FACTS}
    finally:
        spark.stop()
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump({"replicas": replicas, "rows": rows}, f)
    return out_dir, rows


def main() -> None:
    # SPARK_GRAFT_SF1_DIR: reuse a layout already built by build_replica
    # (kept on disk for pre-battery experiments); without it, build 10x
    # fresh and clean up after.
    args = [a for a in sys.argv[1:] if a not in ("--keep", "--demos")]
    keep = "--keep" in sys.argv or "SPARK_GRAFT_SF1_DIR" in os.environ
    # Demo baselines (q171/q182/q191) re-prove quadratic laws SCALE.md
    # already records; at sf1 they are ~40% of the battery wall, so they
    # are OPT-IN here (r9 VERDICT #6): pass --demos to re-measure them.
    demos = "--demos" in sys.argv
    # forward --passes to bench.py: at sf1 a single timed pass (after the
    # untimed warm-up pass) keeps the whole battery inside the timeout.
    # Both --passes=N and --passes N forms are consumed here.
    passes_args: list[str] = []
    rest: list[str] = []
    it = iter(args)
    for a in it:
        if a.startswith("--passes="):
            passes_args.append(a)
        elif a == "--passes":
            nxt = next(it, None)
            if nxt is not None:
                passes_args.append(f"--passes={nxt}")
        else:
            rest.append(a)
    args = rest
    replicas = int(args[0]) if args else 10
    prebuilt = os.environ.get("SPARK_GRAFT_SF1_DIR")
    if prebuilt:
        out_dir = prebuilt
        try:
            with open(os.path.join(prebuilt, "_manifest.json")) as f:
                manifest = json.load(f)
            rows = manifest["rows"]
            # the record must describe the layout actually benchmarked,
            # not the CLI default — a prebuilt dir carries its own count
            replicas = manifest.get("replicas", replicas)
        except OSError:
            rows = {}
    else:
        out_dir, rows = build_replica(replicas)
    try:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=out_dir)
        bench_args = passes_args + ([] if demos else ["--skip-demos"])
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"), *bench_args],
            env=env, capture_output=True, text=True, timeout=7200,
        )
        detail = summary = None
        for line in proc.stdout.replace("\r", "\n").splitlines():
            m = re.search(r'\{"metric".*', line)
            if not m:
                continue
            rec = json.loads(m.group(0))
            if rec["metric"] == "headline_queries_detail":
                detail = rec
            elif rec["metric"] == "headline_queries_total_wall":
                summary = rec
        record = {
            "sf": 1.0,
            "built_from": f"{replicas}x sf0.1 (shifted fact keys; customer "
                          "replicated coherently with the shifted o_custkey; "
                          "documents and embeddings duplicated verbatim under "
                          "shifted ids — dedup/near-dup worst case)",
            "fidelity_caveats": [
                "part/supplier/nation/region stay at sf0.1 with UNSHIFTED "
                "fact foreign keys, so per-part and per-supplier fan-in "
                "grows ~10x instead of part count growing 10x (TPC-H "
                "proper scales entity counts) — part-keyed self-joins "
                "(q171) see hub growth, which is the deliberate stress "
                "the q173 cap exists for",
            ],
            "rows": rows,
            "rc": proc.returncode,
            "summary": summary,
            "detail": detail,
        }
        with open(os.path.join(REPO, "BENCH_SF1.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({
            "sf1_total_sec": summary and summary["value"],
            "sf1_production_total_sec": detail and detail.get("production_total"),
            "demo_baselines": detail and detail.get("demo_baselines"),
            "n_errors": summary and summary["queries"]["n_errors"],
            "rc": proc.returncode,
        }))
    finally:
        if not keep:
            shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
