"""Turn a run's spans, pass meters and event log into named metrics."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

from tracing import GroupStats, Recorder, union_seconds
from workloads import BUILD_OPS, DEDUP, ENGINE_QUERIES, INDEX_PROBES, INGEST, STREAM_REPLAY


@dataclass
class PassStats:
    wall_s: float
    cpu_s: float
    steal_s: float


@dataclass
class Result:
    workload: object
    passes: list[PassStats]
    setup_s: float
    peak_rss_mb: float
    calib_s: float
    warmup_s: float


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _op_total(op_secs: dict[str, float], name: str) -> float:
    return op_secs.get(f"{name}:build", 0.0) + op_secs.get(f"{name}:run", 0.0)


def end_to_end(r: Result) -> dict[str, float]:
    wl, rec = r.workload, r.workload.rec
    per_pass = [rec.op_seconds(k) for k in range(len(r.passes))]

    out = {
        "setup_s": r.setup_s,
        "pass_s": _median(p.wall_s for p in r.passes),
        "cpu_s": _median(p.cpu_s for p in r.passes),
        "peak_rss_mb": r.peak_rss_mb,
        "failed_share": wl.failed / max(wl.attempted, 1),
        "host.steal_s": _median(p.steal_s for p in r.passes),
        "host.calib_s": r.calib_s,
        "session.warmup_s": r.warmup_s,
    }
    if wl.name == "engine-mix":
        out["index_build_s"] = _median(sum(_op_total(s, b) for b in BUILD_OPS) for s in per_pass)
        out["probe_s"] = _median(sum(_op_total(s, q) for q in INDEX_PROBES) for s in per_pass)
    return out


def _groups(stats: dict[tuple[str, int], GroupStats], workload: str, k: int, ops, phases=("build", "run")):
    return [stats[(f"{workload}:{op}:{ph}", k)] for op in ops for ph in phases if (f"{workload}:{op}:{ph}", k) in stats]


def per_layer(
    r: Result,
    rec: Recorder,
    stats: dict[tuple[str, int], GroupStats],
    triggers: list[tuple[float, float, int]],
    appendix: dict[str, float],
    store_bytes: int,
    parse_s: float,
) -> dict[str, float]:
    """Per-layer metrics, each the median over the timed passes of its
    per-pass value. A layer the workload does not call reads 0."""
    wl = r.workload
    name = wl.name
    spans = {(s.name, s.pass_index): s for s in rec.spans}
    rows: list[dict[str, float]] = []
    for k in range(len(r.passes)):
        secs = rec.op_seconds(k)
        all_groups = [g for (grp, kk), g in stats.items() if kk == k and grp.startswith(f"{name}:")]
        row = {
            "spark.jobs": sum(g.jobs for g in all_groups),
            "spark.stages": sum(g.stages for g in all_groups),
            "spark.tasks": sum(g.tasks for g in all_groups),
            "spark.executor_run_s": sum(g.executor_run_s for g in all_groups),
            "spark.executor_cpu_s": sum(g.executor_cpu_s for g in all_groups),
            "spark.gc_s": sum(g.gc_s for g in all_groups),
            "spark.shuffle_write_mb": sum(g.shuffle_write_mb for g in all_groups),
            "spark.shuffle_read_mb": sum(g.shuffle_read_mb for g in all_groups),
            "spark.spill_mb": sum(g.spill_mb for g in all_groups),
        }
        if name == "entregas-etl":
            stages = ("extract", "quality", "plan", "load")
            row.update({
                "pipeline.extract_s": secs.get("extract:run", 0.0),
                "pipeline.quality_s": secs.get("quality:run", 0.0),
                "pipeline.plan_s": secs.get("plan:build", 0.0),
                "pipeline.load_s": secs.get("load:run", 0.0),
                "pipeline.jobs": sum(g.jobs for g in _groups(stats, name, k, stages)),
                "pipeline.tasks": sum(g.tasks for g in _groups(stats, name, k, stages)),
            })
        else:
            build = _groups(stats, name, k, ENGINE_QUERIES, ("build",))
            run = _groups(stats, name, k, ENGINE_QUERIES, ("run",))
            driver_only = 0.0
            for q in ENGINE_QUERIES:
                if (f"{q}:run", k) not in spans:  # the operation failed
                    continue
                lo, hi = spans[(f"{q}:build", k)].start, spans[(f"{q}:run", k)].end
                jobs = [iv for g in _groups(stats, name, k, (q,)) for iv in g.job_intervals]
                driver_only += (hi - lo) - union_seconds(jobs, lo, hi)
            row.update({
                "queries.build_s": sum(secs.get(f"{q}:build", 0.0) for q in ENGINE_QUERIES),
                "queries.build_jobs": sum(g.jobs for g in build),
                "queries.run_s": sum(secs.get(f"{q}:run", 0.0) for q in ENGINE_QUERIES),
                "queries.run_jobs": sum(g.jobs for g in run),
                "queries.run_stages": sum(g.stages for g in run),
                "queries.run_tasks": sum(g.tasks for g in run),
                "queries.driver_only_s": driver_only,
                "index.build_jobs": sum(g.jobs for g in _groups(stats, name, k, BUILD_OPS)),
                "probe.build_jobs": sum(g.jobs for g in _groups(stats, name, k, INDEX_PROBES, ("build",))),
                "similarity.dedup_s": _op_total(secs, DEDUP),
                "streaming.ingest_s": secs.get(f"{INGEST}:build", 0.0),
            })
            row.update({f"{b}_s": _op_total(secs, b) for b in BUILD_OPS})
            row.update({metric: _op_total(secs, q) for q, metric in INDEX_PROBES.items()})
        rows.append(row)
    out = {key: _median(row[key] for row in rows) for key in rows[0]}
    out.update(appendix)
    replays = [s for s in rec.spans if s.name == f"{STREAM_REPLAY}:build"]
    if replays:
        last = replays[-1]
        batches = [t for t in triggers if last.start <= t[0] <= last.end]
        out.update({
            "streaming.triggers": len(batches),
            "streaming.trigger_p50_s": _median(t[1] for t in batches),
            "streaming.trigger_max_s": max((t[1] for t in batches), default=0.0),
            "streaming.state_rows": max((t[2] for t in batches), default=0),
        })
    if store_bytes:
        out["index.store_mb"] = store_bytes / 2**20
        out["index.bytes_per_input_byte"] = store_bytes / wl.index_input_bytes
    out.update({
        "session.warmup_s": r.warmup_s,
        "host.steal_s": _median(p.steal_s for p in r.passes),
        "host.calib_s": r.calib_s,
        "trace.pass_s": _median(p.wall_s for p in r.passes),
        "trace.parse_s": parse_s,
    })
    return out


def print_counts(rec: Recorder, stats: dict[tuple[str, int], GroupStats], workload: str) -> None:
    """One line per traced operation of the first timed pass, for the
    run-to-run count comparison."""
    for s in rec.spans:
        if s.pass_index == 0 and s.name != "pass":
            g = stats.get((s.group, 0), GroupStats())
            print(f"counts {s.name} jobs={g.jobs} stages={g.stages} tasks={g.tasks}")


def print_human(r: Result, lines: dict[str, float]) -> None:
    wl = r.workload
    units = {"peak_rss_mb": "MB", "failed_share": "ratio", "io.writers.files": "count"}
    for key in sorted(lines):
        unit = units.get(key, "s" if key.endswith("_s") else "")
        print(f"{wl.name} {key} {lines[key]:.6g} {unit}".rstrip())
    print(f"{wl.name} attempted {wl.attempted} failed {wl.failed}")
    print(f"{wl.name} passes {len(r.passes)} walls " + " ".join(f"{p.wall_s:.3f}" for p in r.passes))
    print(f"{wl.name} steal_per_pass " + " ".join(f"{p.steal_s:.3f}" for p in r.passes))
    per_pass = [wl.rec.op_seconds(k) for k in range(len(r.passes))]
    untimed = wl.rec.op_seconds(-1)
    for op in per_pass[0]:
        print(f"{wl.name} op {op} {_median(s.get(op, 0.0) for s in per_pass):.3f} s (untimed passes {untimed.get(op, 0.0):.3f} s)")
