"""Round-9 operators: the sqrt(n) IVF rule as model state (q199/q200).
The DuckDB oracles pin cross-engine values; these tests pin the
derivation itself — derived_k == ceil(sqrt(n)) at two scale points —
and that the auto plans are EXACTLY the fixed-K plans run at that K
(the derived valve changes where K comes from, not what it computes)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
def test_derived_k_equals_ceil_sqrt_n(spark, sf):
    """derived_k must equal ceil(sqrt(n)) at both scale points — the
    knob tracks corpus size with no constant anywhere in the plan."""
    from etl_entregas_pyspark_spark.queries.similarity import (
        q199_semdedup_auto,
        q200_label_noise_auto,
    )

    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    want_k = math.ceil(math.sqrt(n))
    ks = {r.derived_k for r in q199_semdedup_auto(spark, sf).select("derived_k").distinct().collect()}
    assert ks == {want_k}
    ks200 = {r.derived_k for r in q200_label_noise_auto(spark, sf).select("derived_k").distinct().collect()}
    assert ks200 <= {want_k}  # == when any row is flagged; empty flag set allowed


def test_auto_semdedup_is_fixed_k_at_derived_k(spark, sf_dir):
    """q199 == semdedup_prune(n_centroids=ceil(sqrt(n))): the derived
    valve only moves where K comes from."""
    from etl_entregas_pyspark_spark.queries.similarity import (
        q199_semdedup_auto,
        semdedup_prune,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    k = math.ceil(math.sqrt(n))
    cols = ["centroid_id", "n_members", "n_dropped", "kept_probe"]
    auto = _rows_set(q199_semdedup_auto(spark, sf_dir).select(*cols), cols)
    fixed = _rows_set(semdedup_prune(spark, sf_dir, n_centroids=k).select(*cols), cols)
    assert auto == fixed and len(auto) == k


def test_auto_label_noise_is_fixed_k_at_derived_k(spark, sf_dir):
    """q200's flag set == label_noise_flags(n_centroids=ceil(sqrt(n)))."""
    from etl_entregas_pyspark_spark.queries.similarity import (
        label_noise_flags,
        q200_label_noise_auto,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    k = math.ceil(math.sqrt(n))
    cols = ["vec_id", "label", "predicted_label", "n_votes"]
    auto = _rows_set(q200_label_noise_auto(spark, sf_dir).select(*cols), cols)
    fixed = _rows_set(label_noise_flags(spark, sf_dir, n_centroids=k).select(*cols), cols)
    assert auto == fixed


def test_derived_k_is_model_state_not_driver_state(spark, sf_dir, monkeypatch):
    """The K derivation must live in the plan: no collect() anywhere —
    the 1-row K frame appears as a broadcast join input, and the physical
    plan carries the count->ceil(sqrt) aggregation itself.

    r16: semdedup_prune localCheckpoints the assignment grid (it has three
    consumers), which MATERIALIZES the k_auto subtree during construction —
    still a distributed job, never a driver collect, but the final plan
    shows a checkpoint scan instead of the derivation. Neutralize the
    checkpoint (identity) so the full lineage is visible again and the
    original in-plan assertions can check the same invariant."""
    from etl_entregas_pyspark_spark import stores
    from etl_entregas_pyspark_spark.queries.similarity import q199_semdedup_auto

    import re

    monkeypatch.setattr(stores, "materialize", lambda df, reason: df)
    plan = q199_semdedup_auto(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # the centroid cutoff compares against the broadcast k_auto COLUMN,
    # not a folded literal — proof the K never touched the driver
    assert re.search(r"vec_id#\d+L? < k_auto#\d+L?", plan)
    assert "BroadcastExchange" in plan
    # and the K frame is the 1-row global aggregate, built in-plan
    assert re.search(r"HashAggregate\(keys=\[\], functions=\[count\(1\)\], output=\[k_auto#\d+", plan)


# ---------------------------------------------------------------------------
# q202 — duplicated-span profile (exact substring dedup signal)
# ---------------------------------------------------------------------------


def test_span_dup_profile_planted_corpus(spark, tmp_path):
    """Plant a partial-overlap duplication the doc-level dedup family
    cannot see: doc 1 copies a 12-token paragraph out of doc 0's 20
    tokens. With W=8, exactly the 5 windows fully inside the copied
    region are shared; doc 2 (all-unique) must be absent entirely."""
    from etl_entregas_pyspark_spark.queries.text import q202_span_dup_profile

    a = [f"a{i}" for i in range(20)]          # doc 0: a0..a19
    d1 = ["b0", "b1"] + a[4:16] + ["c0", "c1"]  # doc 1: 16 toks, copies a4..a15
    d2 = [f"z{i}" for i in range(15)]         # doc 2: unique
    rows = [
        (0, " ".join(a), len(" ".join(a)), "s0"),
        (1, " ".join(d1), len(" ".join(d1)), "s1"),
        (2, " ".join(d2), len(" ".join(d2)), "s2"),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, n_chars bigint, source string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in q202_span_dup_profile(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    # doc 0: 13 windows, dup = starts 5..9 (1-based) inside a4..a15 -> 5
    assert (out[0].n_spans, out[0].n_dup_spans) == (13, 5)
    # doc 1: 9 windows, dup = the same 5 copied windows
    assert (out[1].n_spans, out[1].n_dup_spans) == (9, 5)
    assert out[1].dup_frac > out[0].dup_frac  # ordering key is the frac


def test_span_dup_profile_consistent_with_lsh_on_doc_level_dups(spark, sf_dir):
    """Consistency invariant: the synthetic corpus duplicates whole
    documents (near-verbatim), so span-level and doc-level signals must
    agree EXACTLY — every LSH-paired doc shares 8-token spans and vice
    versa. (The capability q53 lacks — partial-overlap duplication — is
    pinned by the planted-corpus test above, where the two diverge.)"""
    from etl_entregas_pyspark_spark.queries.similarity import q53_minhash_near_dup
    from etl_entregas_pyspark_spark.queries.text import q202_span_dup_profile

    span_docs = {r.doc_id for r in q202_span_dup_profile(spark, sf_dir).collect()}
    assert span_docs, "synthetic corpus must contain duplicated spans"
    paired = set()
    for r in q53_minhash_near_dup(spark, sf_dir).collect():
        paired.add(r.doc_a)
        paired.add(r.doc_b)
    assert span_docs == paired


# ---------------------------------------------------------------------------
# q203 — incremental LSH probe (batch vs standing corpus)
# ---------------------------------------------------------------------------


def test_incremental_probe_is_q53_restricted(spark, sf_dir):
    """The probe must surface EXACTLY the q53 pairs that touch the batch
    — same signatures, same candidates, same Jaccard — plus the routing
    tag. Anything extra or missing means the probe plan changed the
    near-dup semantics, not just the access path."""
    from etl_entregas_pyspark_spark.queries.similarity import (
        _BATCH_MOD,
        q53_minhash_near_dup,
        q203_incremental_lsh_probe,
    )

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q53_minhash_near_dup(spark, sf_dir).collect()
    }
    want = {
        k: v for k, v in full.items() if k[0] % _BATCH_MOD == 0 or k[1] % _BATCH_MOD == 0
    }
    got = {}
    for r in q203_incremental_lsh_probe(spark, sf_dir).collect():
        got[(r.doc_a, r.doc_b)] = r.jaccard
        both = r.doc_a % _BATCH_MOD == 0 and r.doc_b % _BATCH_MOD == 0
        assert r.match_side == ("batch" if both else "corpus")
    assert got == want and want, "probe != q53 restricted to batch-touching pairs"


def test_incremental_probe_broadcasts_the_batch(spark, sf_dir):
    """Plan contract: the batch band signatures are the BROADCAST side of
    the candidate join — the standing corpus index streams past them
    map-side, which is the whole point of the incremental path."""
    from etl_entregas_pyspark_spark.queries.similarity import (
        q203_incremental_lsh_probe,
    )

    plan = (
        q203_incremental_lsh_probe(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan
