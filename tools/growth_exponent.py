"""Growth-exponent ladder for registry queries: build shifted-key replica
layouts of sf0.1 at several scale factors (including the worst-case
verbatim document/embedding duplication), time each target query at each
point (min of two passes after one warm-up), and fit the log-log slope

    t(N) ~ N^alpha   =>   alpha = slope of ln t vs ln N (least squares)

alpha ≈ 1 means the plan scales linearly in data volume; alpha ≈ 2 means a
pairwise stage dominates. Results go into SCALE.md's measured-scaling table.
One rung (``--replicas 16``) is the 16× scale smoke; ``build`` is also the
layout `tools/bench_sf1.py` benchmarks.

Usage: python tools/growth_exponent.py q158_containment_join q192_lsh_recall_audit [--replicas 1,2,4]
Prints one JSON line per query: {"query": ..., "points": {N: sec}, "alpha": ...}
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
# fact tables replicated with shifted keys; dims copied as-is.
# documents replicate with IDENTICAL text — deliberately: N× literal
# duplication is the near-dup operator's worst case (every LSH bucket's
# membership multiplies by N, the in-bucket pair grid by N²), i.e. the
# common-crawl-style duplication profile the dedup path must survive.
FACTS = {"lineitem": ["l_orderkey"], "orders": ["o_orderkey", "o_custkey"],
         "documents": ["doc_id"],
         # customer replicates with c_custkey shifted by the SAME stride
         # as orders.o_custkey, so every replicated order keeps a matching
         # customer — without this, ~90% of orders were orphaned and
         # customer-join row counts understated true sf1 cost
         "customer": ["c_custkey"],
         # embeddings replicate verbatim under shifted vec_ids — the same
         # duplication worst case as documents (every cosine bucket's
         # membership multiplies by N), so embedding-arm queries bench
         # against N× vectors
         "embeddings": ["vec_id"],
         # shifting user_id multiplies the user population while keeping
         # each user's history length constant — the realistic growth
         # axis for sessionization/funnel (more entities, not deeper ones)
         "events": ["event_id", "user_id"]}
KEY_STRIDE = 100_000_000


def build(spark, replicas: int) -> str:
    """Write the N× replica layout into a fresh temp dir and return it."""
    out_dir = tempfile.mkdtemp(prefix=f"growth_{replicas}x_")
    # true dims: their keys are never shifted by any fact replica, so
    # copying keeps referential integrity (l_partkey/l_suppkey/
    # c_nationkey all still resolve)
    for name in ("region", "nation", "supplier", "part"):
        shutil.copy(f"{SRC}/{name}.parquet", f"{out_dir}/{name}.parquet")
    for name, keys in FACTS.items():
        base = spark.read.parquet(f"{SRC}/{name}.parquet")
        rep = spark.range(replicas).select(F.col("id").alias("__rep__"))
        scaled = base.crossJoin(rep)
        for k in keys:
            scaled = scaled.withColumn(k, F.col(k) + F.col("__rep__") * KEY_STRIDE)
        scaled.drop("__rep__").repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
    return out_dir


def fit_alpha(points: dict[int, float]) -> float | None:
    """Least-squares log-log slope; None when fewer than two distinct
    scale points were measured (a single point has no slope)."""
    if len(set(points)) < 2:
        return None
    # clamp sub-ms timings away from log(0): full-precision floats are
    # stored, but a degenerate 0.0 must not blow up the whole run
    xs = [math.log(n) for n in points]
    ys = [math.log(max(t, 1e-6)) for t in points.values()]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs)
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 3)


def main() -> None:
    # accept both `--replicas=1,2,4` and `--replicas 1,2,4` (the documented
    # space-separated form consumes the next argv token)
    argv = sys.argv[1:]
    names: list[str] = []
    replicas = [1, 2, 4]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--replicas"):
            if "=" in a:
                val = a.split("=", 1)[1]
            else:
                i += 1
                if i >= len(argv):
                    sys.exit("--replicas needs a value, e.g. --replicas 1,2,4")
                val = argv[i]
            replicas = [int(x) for x in val.split(",")]
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a!r}")
        else:
            names.append(a)
        i += 1
    if not names:
        names = ["q158_containment_join", "q192_lsh_recall_audit"]

    spark = (
        SparkSession.builder.appName("growth-exponent")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    from etl_entregas_pyspark_spark import queries as q

    unknown = [n for n in names if n not in q.REGISTRY]
    if unknown:
        spark.stop()
        sys.exit(f"not in REGISTRY: {unknown}")

    results: dict[str, dict[int, float]] = {n: {} for n in names}
    try:
        for n_rep in replicas:
            out_dir = build(spark, n_rep)
            try:
                for name in names:
                    best = None
                    for timed in (False, True, True):
                        t0 = time.time()
                        q.REGISTRY[name].spark(spark, out_dir).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        dt = time.time() - t0
                        if timed:
                            best = dt if best is None else min(best, dt)
                        spark.catalog.clearCache()
                    # full precision for the log-log fit; round at print
                    results[name][n_rep] = best
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)
        for name in names:
            print(json.dumps({
                "query": name,
                "points": {n: round(t, 2) for n, t in results[name].items()},
                "alpha": fit_alpha(results[name]),
            }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
