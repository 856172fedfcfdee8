"""Registry plumbing for the query corpus, and the one home of query
metadata: the bench battery, its demo baselines and contrast pairs, and the
driver's window order are all derived from here."""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

# - "production": timed by the bench battery (bench.py) and planned into
#   PLANS.md.
# - "basic": the q04–q92 single-operator basics and their peers. Oracle- and
#   pytest-covered, but outside the battery, whose total is the driver's
#   headline number.
# - "demo": a deliberately unguarded baseline, kept registered as the
#   measured contrast for its production twin (r7 VERDICT #5). Timed, but
#   reported apart from production_total.
# - "on_change_only": a demo baseline that re-proves a scaling law SCALE.md
#   already records (r10 VERDICT #2). It keeps its registration, oracle and
#   pytest coverage but is not enqueued for driver rows unless its code
#   changes, so it must stay out of _PRIORITY.
TIERS = ("production", "basic", "demo", "on_change_only")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: Optional[str]  # ANSI SQL for DuckDB, or None → rows-only check
    doc: str = ""
    tier: str = "production"
    # Denominator of a bench contrast ratio (this query's time / its time).
    # Absolute wall clocks swing 2-3x between sandbox sessions, so
    # regressions are judged on within-session ratios of two battery rows.
    # The expected ratios, given at each numerator's registration, are
    # scale-dependent: the point is their round-over-round stability, not
    # a universal "<1".
    contrast_of: Optional[str] = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: Optional[str],
    doc: str = "",
    *,
    tier: str = "production",
    contrast_of: Optional[str] = None,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``."""
    if tier not in TIERS:
        raise ValueError(f"{name}: unknown tier {tier!r}; expected one of {TIERS}")

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            tier=tier, contrast_of=contrast_of,
        )
        return fn

    return wrap


def _number(name: str) -> int:
    return int(re.match(r"q(\d+)", name).group(1))


def battery() -> list[str]:
    """Every query outside the basic tier, in query-number order."""
    return sorted((n for n, s in REGISTRY.items() if s.tier != "basic"), key=_number)


def demo_baselines() -> set[str]:
    return {n for n, s in REGISTRY.items() if s.tier in ("demo", "on_change_only")}


def on_change_only() -> set[str]:
    return {n for n, s in REGISTRY.items() if s.tier == "on_change_only"}


def contrast_pairs() -> list[tuple[str, str]]:
    """(numerator, denominator) for each declared contrast, in battery order."""
    return [(n, REGISTRY[n].contrast_of) for n in battery() if REGISTRY[n].contrast_of]


# The driver's CORRECTNESS gate checks the first 50 queries in the order
# ``queries()`` yields them. This list pins the queries that most need
# driver verification to the front: first the newest registrations, which
# have no driver row yet, then the oldest rotating evidence. Everything else
# follows in registration order. On-change-only queries never appear here
# (check_tiers).
_PRIORITY = [
    # newest registrations first
    "q248_ivfpq_drift_audit",
    "q249_ivfpq_refresh_apply",
    "q250_ann_engine_choice",
    "q251_packed_batch_assign",
    "q252_live_ivfpq_probe",
    "q253_ivfpq_shortlist_sweep",
    "q254_sq8_clip_audit",
    "q255_stream_static_enrich",
    "q256_filter_attribution",
    "q257_bpe_merge_mining",
    "q258_contamination_depth",
    "q259_preference_pairs",
    "q260_dedup_sampling_weights",
    "q261_bpe_compression_curve",
    "q262_mmr_rerank",
    "q263_admission_ledger",
    "q264_ivf_mmr_stack",
    "q265_leakage_safe_split",
    # then the r10 cohort, the oldest rotating driver rows (q171 is
    # on-change-only), in name order
    "q150_bucketed_dedup_chain",
    "q151_stream_upsert_sink",
    "q152_setjoin_prefix_filter",
    "q153_sliding_distinct",
    "q154_calibration_bins",
    "q155_psi_drift",
    "q156_feature_matrix",
    "q157_negative_sampling",
    "q158_containment_join",
    "q159_linear_attribution",
    "q160_interval_overlap_join",
    "q161_proportional_allocation",
    "q162_bfs_levels",
    "q163_weighted_sample_noreplace",
    "q164_category_entropy",
    "q165_ab_proportion_test",
    "q166_golden_record",
    "q167_pmi_cooccurrence",
    "q168_geo_distance_join",
    "q169_hierarchy_rollup",
    "q170_rolling_corr",
    "q172_clamped_running_sum",
    "q208_pps_sample_audit",
    "q209_zipf_slope",
    "q210_incremental_lsh_probe_persisted",
    "q211_ingest_apply",
    "q212_stream_disordered_session",
    "q213_stream_disordered_sliding_distinct",
    "q214_span_scrub_apply",
    "q215_ivf_recall_audit",
    "q26_math_funcs",
    "q27_conditional_agg",
    # The 50-cut lands after q27_conditional_agg. The rest of the r10
    # cohort (q29_pivot, q33_events_json … q56_cosine_near_dup) and the
    # whole r11 cohort head the next window.
]


def check_tiers() -> None:
    """Raise if an on-change-only query is enqueued for driver rows. Runs
    once the registry is populated (the end of ``queries/__init__.py``), so
    every pytest and driver run trips it; a raise, not an assert, so
    ``python -O`` cannot strip it (r12 ADVICE #4)."""
    enqueued = on_change_only().intersection(_PRIORITY)
    if enqueued:
        raise ValueError(f"on-change-only demo queries must not be enqueued for driver rows: {sorted(enqueued)}")


def _ordered() -> list[str]:
    prio = list(dict.fromkeys(n for n in _PRIORITY if n in REGISTRY))
    rest = [n for n in REGISTRY if n not in set(prio)]
    return prio + rest


def all_queries() -> dict[str, SparkQuery]:
    return {name: REGISTRY[name].spark for name in _ordered()}


def all_oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered()
        if REGISTRY[name].oracle is not None
    }
