"""Regenerate PLANS.md: formatted physical plans for the battery queries,
so plan-quality properties (pushdown, pruning, broadcast choice, top-k,
bucketing) are reviewable without running Spark.

Usage: python tools/dump_plans.py [sf_dir]

Spark numbers expression ids, lambda variables, exchange plan ids and RDDs
from session-wide counters, and store paths carry the application id, so
the raw text of an unchanged plan depends on everything the session built
before it. Each plan's numbers are renumbered from 1 in order of first
appearance, so two runs of unchanged code write the same file.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_entregas_pyspark_spark.session import build_session  # noqa: E402

# (prefix)(session-wide number): expression and subquery ids, lambda
# variables, exchange plan ids, RDD ids, the application id in store paths.
_SESSION_COUNTERS = [
    re.compile(r"(#)(\d+)"),
    re.compile(r"(lambda [a-z]+_)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"(local[-_])(\d{10,})"),
]


def renumber(plan: str) -> str:
    """``plan`` with each session-wide counter renumbered from 1 in order
    of first appearance."""
    for pattern in _SESSION_COUNTERS:
        ids: dict[str, int] = {}
        plan = pattern.sub(lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids) + 1)), plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session({"spark": {
        "app_name": "dump-plans",
        "master": "local[8]",
        "log_level": "ERROR",
        "configs": {"spark.sql.shuffle.partitions": "16", "spark.ui.enabled": "false"},
    }})
    from etl_entregas_pyspark_spark import queries as q

    names = q.registry.battery()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        f"# PLANS — formatted physical plans for the {len(names)} battery"
        " queries (every registered query outside the basic tier, the set"
        " bench.py times)",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Reviewed properties:",
        "`PushedFilters`/`ReadSchema` (pushdown + pruning), `BroadcastHashJoin`",
        "(dimension broadcasts), `TakeOrderedAndProject` (top-k without global",
        "sort), partial `HashAggregate` before every `Exchange` (map-side",
        "combine). See SCALE.md for the per-family analysis.",
        "",
    ]
    # Named plan-stage extras: sub-plans that checkpoints hide from the
    # registered query's final plan but that carry the reviewable claim
    # (e.g. q210's index scan — the candidate stage reads the persisted
    # band table and must show NO documents.parquet scan).
    def _q210_probe(spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.lsh_index import _probe_pairs

        return _probe_pairs(spark, sf_dir)[0]

    def _q215_scored(spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.similarity import _q215_parts

        return _q215_parts(spark, sf_dir)[0]

    def _q232_admission(spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            _SQ8_SHORTLIST,
            _sq8_admission,
        )

        return _sq8_admission(spark, sf_dir, _SQ8_SHORTLIST)[1]

    extras = {
        "q210_incremental_lsh_probe_persisted": [
            ("probe stage (pre-checkpoint): saved-index scan, no corpus text", _q210_probe)
        ],
        "q215_ivf_recall_audit": [
            (
                "scoring stage (pre-checkpoint): ONE candidate×probe join at "
                "max(nprobe); per-nprobe curves are rank filters over it",
                _q215_scored,
            )
        ],
        "q232_ivf_sq8_rescore": [
            (
                "admission stage (pre-checkpoint): codes-only inverted-file "
                "scan — ReadSchema must NOT contain the embedding column",
                _q232_admission,
            )
        ],
    }

    for name in names:
        plan = (
            q.REGISTRY[name]
            .spark(spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(mode)
        )
        out.append(f"## {name}\n\n```\n{renumber(plan.strip())}\n```\n")
        for title, fn in extras.get(name, []):
            sub = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
            out.append(f"### {name} — {title}\n\n```\n{renumber(sub.strip())}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(names)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
