"""Query metadata lives on ``QuerySpec``: the driver's window order, the
bench battery, its demo baselines and its contrast pairs are all derived
from the registry. These pins keep that derivation identical to the hand
lists it replaced. No Spark session is started."""

import hashlib

import pytest

import __spark_entry__
from etl_entregas_pyspark_spark.queries import REGISTRY, register, registry


def _sha(names):
    return hashlib.sha256("\n".join(names).encode()).hexdigest()


# queries() order feeds the driver's 50-query correctness window
QUERIES_ORDER_SHA = "da7c750bd229773ec270d5ed33deacbb5b65ed89add31e4692dd368d429d66a3"
BATTERY_SORTED_SHA = "737d4adf67219165c956596404a80f2416fb899d9f573a2ed4dc275dc93df318"


def test_queries_order_is_pinned():
    names = list(__spark_entry__.queries())
    assert len(names) == 263
    assert _sha(names) == QUERIES_ORDER_SHA


def test_oracle_sql_has_the_same_keys_and_order():
    assert _sha(__spark_entry__.oracle_sql()) == QUERIES_ORDER_SHA


def test_battery_is_pinned():
    battery = registry.battery()
    assert len(battery) == 214
    assert _sha(sorted(battery)) == BATTERY_SORTED_SHA
    assert battery == sorted(battery, key=lambda n: int(n[1:].split("_")[0]))
    assert all(REGISTRY[n].tier != "basic" for n in battery)
    assert sum(s.tier == "basic" for s in REGISTRY.values()) == 49


def test_demo_and_on_change_only_sets():
    assert registry.on_change_only() == {"q171_link_prediction", "q182_semdedup", "q191_label_noise"}
    assert registry.demo_baselines() == registry.on_change_only() | {"q239_lsh_valve_off_demo"}


def test_contrast_pairs_are_pinned():
    assert sorted(registry.contrast_pairs()) == sorted([
        ("q197_label_noise_scaled", "q191_label_noise"),
        ("q198_triangles_adaptive_support", "q126_copurchase_triangles"),
        ("q194_link_prediction_adaptive", "q171_link_prediction"),
        ("q196_semdedup_scaled", "q182_semdedup"),
        ("q210_incremental_lsh_probe_persisted", "q203_incremental_lsh_probe"),
        ("q214_span_scrub_apply", "q202_span_dup_profile"),
        ("q228_live_ivf_probe", "q73_ivf_search"),
        ("q232_ivf_sq8_rescore", "q223_ivf_probe_persisted"),
        ("q237_lsh_bucket_valve", "q239_lsh_valve_off_demo"),
        ("q242_ivfpq_search", "q223_ivf_probe_persisted"),
        ("q243_ivfpq_ingest_probe", "q242_ivfpq_search"),
        ("q252_live_ivfpq_probe", "q242_ivfpq_search"),
        ("q264_ivf_mmr_stack", "q262_mmr_rerank"),
        ("q249_ivfpq_refresh_apply", "q242_ivfpq_search"),
    ])


def test_every_contrast_denominator_is_a_battery_query():
    for numerator, denominator in registry.contrast_pairs():
        assert denominator in REGISTRY, numerator
        assert REGISTRY[denominator].tier != "basic", numerator


def test_unknown_tier_is_rejected():
    with pytest.raises(ValueError, match="typo"):
        register("q999_typo", None, tier="typo")
    assert "q999_typo" not in REGISTRY


def test_guard_raises_on_enqueued_on_change_only(monkeypatch):
    monkeypatch.setattr(registry, "_PRIORITY", registry._PRIORITY + ["q171_link_prediction"])
    with pytest.raises(ValueError, match="q171_link_prediction"):
        registry.check_tiers()
