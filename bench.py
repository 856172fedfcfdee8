"""Benchmark: the registry's battery (every query outside the basic tier) at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints a
detail line, then ONE summary JSON line last:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full computation, zero
driver collect — the honest distributed cost). Session startup is excluded
from per-query times, matching how the reference's published numbers are
startup-dominated while ours measure data throughput.

Usage: python bench.py [--passes N] [--skip-demos] [--only q01_pricing_summary,q216_stream_disordered_join]

- ``--passes N``: timed passes per query, the minimum kept (default 2: one
  cold-contention sample must not define a query's cost).
- ``--skip-demos``: drop the demo baselines. They re-prove quadratic laws
  SCALE.md already records, and at sf1 they burn ~40% of the battery (r9
  VERDICT #6). Their scaled production twins always run.
- ``--only``: time just the named registered queries in one session, the
  isolation run for re-measuring a few rows min-of-N. It skips the standing
  store builds (the untimed pass absorbs them) and never rewrites the
  per-SF detail file.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from etl_entregas_pyspark_spark.io.readers import read_parquet  # noqa: E402
from etl_entregas_pyspark_spark.queries import REGISTRY, registry  # noqa: E402
from etl_entregas_pyspark_spark.session import build_session  # noqa: E402


def _args(argv: list[str]) -> tuple[int, bool, list[str] | None]:
    passes, skip_demos, only = 2, False, None
    it = iter(argv)
    for a in it:
        flag, eq, val = a.partition("=")
        if flag in ("--passes", "--only") and not eq:
            val = next(it, "")
        if flag == "--passes":
            passes = max(1, int(val))
        elif flag == "--only":
            only = [n for n in val.split(",") if n]
        elif a == "--skip-demos":
            skip_demos = True
        else:
            sys.exit(f"unknown argument {a!r}")
    unknown = [n for n in only or [] if n not in REGISTRY]
    if unknown:
        sys.exit(f"not registered: {unknown}")
    return passes, skip_demos, only


def _scale(sf_dir: str) -> float | str:
    """The scale factor named by an ``sf<N>`` layout directory; any other
    directory name is returned as-is and gets no detail file."""
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.removeprefix("sf"))
    except ValueError:
        return name


def _baseline(path: str) -> dict:
    """The detail record of the last full battery at this scale, or {}."""
    try:
        with open(path) as f:
            record = json.load(f)
        record["queries"] = {k: float(v) for k, v in record["queries"].items()}
        return record
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return {}


def _guard(times: dict[str, float], prev: dict, sf: float | str, cpus: int) -> tuple[dict, str | None]:
    """Rows over 1.3x (and 0.2 s) slower than the baseline record ``prev``,
    and why the guard was skipped, if it was. Only a baseline taken at the
    same scale and core count says anything about this run."""
    if not prev:
        return {}, "no baseline at this scale"
    if (prev.get("sf"), prev.get("cpus")) != (sf, cpus):
        return {}, f"baseline is sf={prev.get('sf')} cpus={prev.get('cpus')}, this run is sf={sf} cpus={cpus}"
    base = prev["queries"]
    return {
        n: {"prev": base[n], "now": t, "ratio": round(t / base[n], 2)}
        for n, t in times.items()
        if n in base and base[n] > 0 and t > 1.3 * base[n] and t - base[n] > 0.2
    }, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    passes, skip_demos, only = _args(sys.argv[1:])
    sf = _scale(sf_dir)
    demos = registry.demo_baselines()
    pool = only or registry.battery()
    names = [n for n in pool if not (skip_demos and n in demos)]

    # AQE, partition coalescing and the UTC session time zone come from
    # session.SCALE_DEFAULTS.
    spark = build_session({"spark": {
        "app_name": "etl-entregas-bench",
        "master": f"local[{cpus}]",
        "log_level": "ERROR",
        "configs": {
            "spark.sql.shuffle.partitions": max(cpus, 32),
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    }})

    # warm-up: JVM JIT, codegen, shuffle and noop-sink classloading, parquet
    # footer caches — so per-query times measure data throughput rather than
    # first-touch compilation
    from pyspark.sql import functions as F

    (
        read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.count("*"))
        .write.format("noop").mode("overwrite").save()
    )
    read_parquet(spark, f"{sf_dir}/orders.parquet").count()

    # Standing index/store builds as their OWN line items (r14 VERDICT
    # #1: first-consumer attribution polluted q233's wall when the
    # session's build order shifted). They run before the battery, so
    # every consumer query measures steady-state probe cost; the builds
    # are priced here, visibly, instead of inside whichever query ran
    # first. Measured isolation check (r15): q233 steady-state with a
    # warm store is 3.2-3.8 s at sf0.1 — the r14 4.55 s was the build
    # landing inside a different battery context, not a plan change.
    from etl_entregas_pyspark_spark.queries import ivf_index as _ivfx
    from etl_entregas_pyspark_spark.queries.lsh_index import (
        ensure_signature_store as _ensure_sigs,
    )

    store_builds: dict[str, float] = {}
    for label, build in () if only else (
        ("signature_store", lambda: _ensure_sigs(spark, sf_dir)),
        ("ivf_index", lambda: _ivfx.ensure_ivf_index(spark, sf_dir)),
        ("ivfpq_index", lambda: _ivfx.ensure_ivfpq_index(spark, sf_dir)),
    ):
        t0 = time.time()
        try:
            build()
            store_builds[label] = round(time.time() - t0, 3)
        except Exception:  # a broken build surfaces via its consumers
            store_builds[label] = -1.0

    # one untimed pass per query first: interpreted higher-order-function
    # expressions C2-compile only after a few executions, and a single cold
    # sample can read 3x the steady-state cost. Then the timed passes,
    # keeping the per-query minimum — a single pass is vulnerable to
    # transient machine contention (GC, co-tenant load) inflating a few
    # queries 3-4x; the min of two is the honest steady-state data cost.
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for timed in (False,) + (True,) * passes:
        for name in names:
            if name in errors:
                continue
            t0 = time.time()
            try:
                REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # one broken query must not zero the round
                errors[name] = (str(e) or repr(e)).splitlines()[0][:200]
                samples.pop(name, None)
                continue
            if timed:
                samples.setdefault(name, []).append(round(time.time() - t0, 3))
            # hygiene OUTSIDE the timed region: drop cached frames and nudge
            # the driver GC so ContextCleaner releases the finished query's
            # localCheckpoint RDD blocks. Without this the battery slowly
            # accumulates checkpoint blobs in the shared heap and LATE
            # queries pay rising GC cost as the battery grows — the
            # r4→r5 "+42% on q111" regression was battery-size residue,
            # not query-plan regression (isolated A/B in COVERAGE.md).
            spark.catalog.clearCache()
            gc.collect()
            # ...and the JVM side too: ContextCleaner only learns a
            # shuffle/broadcast/checkpoint is dead when a JVM GC enqueues
            # its weak reference — the Python gc alone just drops py4j
            # proxies, and in a 200+-query battery the un-GC'd JVM never
            # collects them (Spark's own safety net is
            # spark.cleaner.periodicGC.interval = 30min, longer than the
            # whole battery). Measured r15: a 172-query battery phase ran
            # 458s without / 202s with this call, and the tail queries
            # recovered their fresh-session walls (q216 16.8s -> 5.3s,
            # q215 9.4s -> ~3.2s). Runs between queries, outside timing.
            spark._jvm.System.gc()

    times = {n: min(s) for n, s in samples.items()}
    total = round(sum(times.values()), 3)
    prod_total = round(sum(v for k, v in times.items() if k not in demos), 3)
    # In-run drift guard: flag queries >1.3x slower than the last full
    # battery at this scale and core count (r8's 9-query uniform drift went
    # unflagged by the bench itself). The baseline is the per-SF detail
    # file, read whenever it exists — r14's q233 regression shipped unseen
    # because an env-var check skipped the guard.
    detail_path = os.path.join(HERE, f"BENCH_DETAIL_sf{sf:g}.json") if isinstance(sf, float) else None
    regressions, guard_skipped = _guard(times, _baseline(detail_path) if detail_path else {}, sf, cpus)
    contrasts = {
        f"{a}/{b}": round(times[a] / times[b], 3)
        for a, b in registry.contrast_pairs()
        if times.get(a) and times.get(b)
    }
    # detailed per-query record first (humans / round-over-round diffing) ...
    detail = {
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "queries": times,
        "samples": samples,
        "errors": errors,
        "demo_baselines": sorted(demos & set(times)),
        "demos_skipped": sorted(demos.intersection(pool) - set(names)),
        "production_total": prod_total,
        "store_builds": store_builds,
        "regressions_vs": None if guard_skipped else os.path.basename(detail_path),
        "guard_skipped": guard_skipped,
        "regressions": regressions,
        "contrasts": contrasts,
        "sf": sf,
        "cpus": cpus,
        "passes": passes,
    }
    print(json.dumps(detail))
    # The full detail is also the next battery's baseline: the driver
    # captures only a truncated stdout tail. Best-effort — a read-only
    # checkout must not fail the bench.
    if detail_path and not only:
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f)
                f.write("\n")
        except OSError:
            pass
    # ... then a summary LAST, as FULL-fidelity as physics allows (r15
    # VERDICT #2): the driver's stdout capture keeps only the last 2000
    # chars and parses the last complete JSON line inside it — r02's
    # 68-query detail line overflowed exactly that and came back
    # "parsed": null (recorded as a bench crash), and 214 full-name rows
    # are ~7 KB, so "the complete times map in the headline line" cannot
    # fit. Instead: aggregates move to TOP-LEVEL keys (so PERF stops
    # diffing them as queries) while staying duplicated inside `queries`
    # (the driver contract forbids removing entries), demo-baseline rows
    # are flagged, and the `queries` dict is filled SLOWEST-FIRST with as
    # many per-query rows as keep the line under a 1900-char budget
    # (~25-35 rows — every row that carries perf signal; the sub-second
    # floor rows live in the detail line and file).
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(times),
        "n_errors": len(errors),
        "n_regressions": len(regressions),
        "production_total": prod_total,
        "demo_baselines": sorted(demos & set(times)),
        "queries": {
            "n_queries": len(times),
            "n_errors": len(errors),
            "n_regressions": len(regressions),
            "production_total": prod_total,
        },
        "contrasts": contrasts,
        "sf": sf,
    }
    for name, sec in sorted(times.items(), key=lambda kv: (-kv[1], kv[0])):
        summary["queries"][name] = sec
        if len(json.dumps(summary)) > 1900:
            del summary["queries"][name]
            break
    print(json.dumps(summary))
    spark.stop()
    # Always rc 0: the driver records a non-zero rc as a bench crash (r3),
    # while per-query failures are intentionally non-fatal — they are
    # reported via n_errors in the summary line and the errors map in the
    # detail line, which callers should read instead of the exit code.


if __name__ == "__main__":
    main()
