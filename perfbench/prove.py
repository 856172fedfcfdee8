"""Steadiness proof: run the benchmark on several seeds and report the
spread of every end-to-end metric, with the host's steal time and the
calibration unit next to each run, so a slow run can be told apart from
a slow program.

    python3 perfbench/prove.py [--workloads a,b] [--seeds 10] [--first-seed 101]
                               [--traced-pairs] [--out perfbench/STEADINESS.md]

Run from the repository root. Runs are sequential. The spread of a metric
is (Q3 - Q1) / median over its runs, with the quartiles of
``statistics.quantiles(values, n=4)``. With ``--traced-pairs`` each
workload also gets two traced runs of one seed: their per-operation job,
stage and task counts must agree (operations in ``AQE_VARIABLE`` are
reported but exempt), and their pass time is set against an untraced run
of the same seed made between them, as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Operations whose stage or task counts may differ between runs of one
# seed, because adaptive query execution re-plans on runtime sizes.
AQE_VARIABLE: frozenset[str] = frozenset()


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["seed"] = seed
    human: dict[str, str] = {}
    counts: dict[str, str] = {}
    for line in lines[:-1]:
        parts = line.split(" ", 2)
        if parts[0] == "counts":
            counts[parts[1]] = parts[2]
        elif parts[0] == workload and len(parts) == 3:
            human[parts[1]] = parts[2]
    out["human"] = human
    out["counts"] = counts
    return out


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        return next((line.split(":", 1)[1].strip() for line in fh if line.startswith("model name")), "unknown")


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--traced-pairs", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in contract["workloads"]]
    seconds = contract["run_seconds"]
    doc = [f"# Steadiness record\n\n`python3 perfbench/prove.py --workloads {','.join(workloads)} "
           f"--seeds {args.seeds} --first-seed {args.first_seed}"
           f"{' --traced-pairs' if args.traced_pairs else ''}`, run_seconds {seconds}, "
           f"{len(os.sched_getaffinity(0))} CPUs ({_cpu_model()}).\n"]
    within_bound = within_third = True
    for wl in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            runs.append(run_once(wl, seed, seconds, 0))
            print(f"{wl} seed {seed} wall {runs[-1]['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in runs[-1]["metrics"].items()), flush=True)
        names = [m["name"] for m in contract["end_to_end"]]
        doc.append(f"\n## {wl}\n\n| seed | run wall s | " + " | ".join(names)
                   + " | failed/attempted | steal s per pass | calib s | pass walls s |")
        doc.append("|" + "---|" * (len(names) + 6))
        for r in runs:
            doc.append(f"| {r['seed']} | {r['wall_s']:.1f} | "
                       + " | ".join(f"{r['metrics'][n]['value']:.4g}" for n in names)
                       + f" | {r['failed']}/{r['attempted']} | {r['human'].get('steal_per_pass', '').strip()} "
                       f"| {float(r['human'].get('host.calib_s', 'nan').split()[0]):.4f} "
                       f"| {r['human'].get('passes', '').split('walls')[-1].strip()} |")
        doc.append("\n| metric | median | (Q3-Q1)/median | bound | within bound | within bound/3 |\n|---|---|---|---|---|---|")
        for m in contract["end_to_end"]:
            med, sp = spread([r["metrics"][m["name"]]["value"] for r in runs])
            within_bound &= sp <= m["bound"]
            within_third &= sp <= m["bound"] / 3
            doc.append(f"| {m['name']} | {med:.4g} | {sp:.3f} | {m['bound']} | {'yes' if sp <= m['bound'] else 'NO'} "
                       f"| {'yes' if sp <= m['bound'] / 3 else 'no'} |")
        failed = sum(r["failed"] for r in runs)
        within_bound &= failed == 0
        doc.append(f"\nfailed operations: {failed} of {sum(r['attempted'] for r in runs)}; "
                   f"longest run {max(r['wall_s'] for r in runs):.1f} s.")
        if args.traced_pairs:
            a = run_once(wl, args.first_seed, seconds, 1)
            plain = run_once(wl, args.first_seed, seconds, 0)["metrics"]["pass_s"]["value"]
            b = run_once(wl, args.first_seed, seconds, 1)
            differ = sorted(op for op in set(a["counts"]) | set(b["counts"])
                            if a["counts"].get(op) != b["counts"].get(op))
            exempt = [op for op in differ if op.rsplit(":", 1)[0] in AQE_VARIABLE]
            strict = [op for op in differ if op not in exempt]
            within_bound &= not strict
            traced = statistics.median([a["metrics"]["trace.pass_s"]["value"], b["metrics"]["trace.pass_s"]["value"]])
            doc.append(f"\nTraced pair (seed {args.first_seed}): {len(a['counts'])} operation counts compared, "
                       f"{len(strict)} differ{': ' + ', '.join(strict) if strict else ''}"
                       f"{'; AQE-variable: ' + ', '.join(exempt) if exempt else ''}. "
                       f"Traced pass_s {traced:.3f} s against {plain:.3f} s untraced, run between the two: "
                       f"overhead {traced / plain - 1:+.1%}. Traced run walls "
                       f"{a['wall_s']:.1f} s and {b['wall_s']:.1f} s.")
            doc.append("\n| operation (first timed pass) | counts |\n|---|---|")
            doc.extend(f"| {op} | {a['counts'][op]} |" for op in sorted(a["counts"]))
    doc.append(f"\nEvery spread within its bound, no failed operation and equal counts: "
               f"{'yes' if within_bound else 'NO'}. Within a third of the bound: {'yes' if within_third else 'no'}.\n")
    with open(args.out, "w") as fh:
        fh.write("\n".join(doc))
    print("\n".join(doc))
    return 0 if within_bound else 1


if __name__ == "__main__":
    sys.exit(main())
