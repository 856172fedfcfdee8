"""Round-13 operator tests: q229 (deletion propagation racing live
ingest) and q230 (the nprobe recall/cost sweep). The oracle hash gate
proves value equality; these pin the INDEX-side invariants the oracle
cannot see — store layout after the scrub→resume interleaving, absence
of denied keys in every layout layer, idempotent re-entry, and the
sweep's monotone recall/cost contract.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.ivf_index import (
    IVF_MEMBER_COLS,
    _VEC_DENY_MOD,
    ensure_govlive_ivf_membership,
    q229_ivf_scrub_under_ingest,
    q230_ivf_nprobe_sweep,
    q231_ivf_centroid_refresh,
)
from etl_entregas_pyspark_spark.streaming.epoch_store import (
    EpochStore,
    read_pointer,
)
from tests.conftest import SF_DIR


class TestQ229ScrubUnderIngest:
    def test_no_denied_key_in_any_layout_layer(self, spark):
        path = ensure_govlive_ivf_membership(spark, SF_DIR)
        members = EpochStore(path, IVF_MEMBER_COLS).read(spark)
        denied = members.filter(F.col("vec_id") % _VEC_DENY_MOD == 2)
        assert denied.count() == 0

    def test_membership_is_exactly_corpus_minus_denied(self, spark):
        path = ensure_govlive_ivf_membership(spark, SF_DIR)
        members = EpochStore(path, IVF_MEMBER_COLS).read(spark)
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        expected = e.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") % _VEC_DENY_MOD != 2)
        )
        got = sorted(r.vec_id for r in members.select("vec_id").collect())
        want = sorted(r.vec_id for r in expected.select("vec_id").collect())
        assert got == want  # each exactly once: no dup across base/epoch

    def test_layout_is_scrubbed_base_plus_postscrub_epoch(self, spark):
        path = ensure_govlive_ivf_membership(spark, SF_DIR)
        ptr = read_pointer(path)
        # the scrub compacted epochs 0-1 into a base; epoch 2 landed after
        assert ptr["epoch"] == 2
        assert ptr.get("base_version") is not None
        assert ptr["base_through_epoch"] == 1
        assert os.path.isdir(os.path.join(path, "epoch=2"))
        assert not os.path.isdir(os.path.join(path, "epoch=0"))

    def test_ensure_is_idempotent(self, spark):
        path = ensure_govlive_ivf_membership(spark, SF_DIR)
        v = read_pointer(path)["version"]
        assert ensure_govlive_ivf_membership(spark, SF_DIR) == path
        assert read_pointer(path)["version"] == v  # untouched on re-entry

    def test_probe_never_returns_denied_neighbor(self, spark):
        out = q229_ivf_scrub_under_ingest(spark, SF_DIR)
        bad = out.filter(F.col("neighbor_id") % _VEC_DENY_MOD == 2)
        assert bad.count() == 0


class TestQ230NprobeSweep:
    def test_monotone_recall_and_cost_reaching_exhaustive(self, spark):
        rows = q230_ivf_nprobe_sweep(spark, SF_DIR).orderBy("nprobe").collect()
        assert [r.nprobe for r in rows] == [1, 2, 4, 8]
        recalls = [r.recall_at_k for r in rows]
        costs = [r.n_candidates for r in rows]
        assert recalls == sorted(recalls)  # more lists, never less recall
        assert costs == sorted(costs)  # and strictly more scan cost
        assert costs[0] < costs[-1]
        # exhaustive probe == brute force by construction
        assert recalls[-1] == 1.0
        assert all(0.0 <= r <= 1.0 for r in recalls)

    def test_every_query_counted_at_every_level(self, spark):
        rows = q230_ivf_nprobe_sweep(spark, SF_DIR).collect()
        n_queries = {r.n_queries for r in rows}
        assert n_queries == {8}  # vec_id 8..15 at every level


class TestQ231CentroidRefresh:
    def test_migration_flow_conserves(self, spark):
        rows = q231_ivf_centroid_refresh(spark, SF_DIR).collect()
        assert len(rows) == 8  # one audit row per centroid
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        corpus_n = e.filter(F.col("vec_id") >= 16).count()
        # every committed member appears exactly once on the 'from' side
        assert sum(r.n_members for r in rows) == corpus_n
        # a vector leaving one bucket arrives in exactly one other
        assert sum(r.n_out for r in rows) == sum(r.n_in for r in rows)
        for r in rows:
            assert 0 <= r.n_stay <= r.n_members
            assert r.n_out == r.n_members - r.n_stay
            assert 0.0 <= r.churn <= 1.0
            if r.n_members:
                assert r.churn == r.n_out / r.n_members
            else:
                assert r.churn == 0.0

    def test_deterministic_across_runs(self, spark):
        a = sorted(map(tuple, q231_ivf_centroid_refresh(spark, SF_DIR).collect()))
        b = sorted(map(tuple, q231_ivf_centroid_refresh(spark, SF_DIR).collect()))
        assert a == b


class TestQ232Sq8Rescore:
    def test_shape_and_rank_contract(self, spark):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            _SQ8_SHORTLIST,
            q232_ivf_sq8_rescore,
        )

        rows = q232_ivf_sq8_rescore(spark, SF_DIR).collect()
        assert len(rows) == 8 * 3  # 8 queries x top-3
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == [1, 2, 3]
            # final ranking is by the RESCORED cosine, not the admission dot
            cosines = [r.cosine for r in rs]
            assert cosines == sorted(cosines, reverse=True)
            assert len(rs) <= _SQ8_SHORTLIST

    def test_q8_dot_is_exact_integer_quantized_dot(self, spark):
        """Recompute the admission score in pure Python for every emitted
        row: the quantizer convention (±4σ clip, floor(x·s + 0.5)) must
        match bit-for-bit, or the engine-portability claim is void."""
        import math

        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q232_ivf_sq8_rescore,
        )

        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        emb = {r.vec_id: r.embedding for r in e.collect()}

        def q8(v):
            s = 127.0 / 4.0
            return [
                max(-127, min(127, int(math.floor(float(x) * s + 0.5))))
                for x in v
            ]

        for r in q232_ivf_sq8_rescore(spark, SF_DIR).collect():
            want = sum(
                a * b for a, b in zip(q8(emb[r.query_id]), q8(emb[r.neighbor_id]))
            )
            assert r.q8_dot == want

    def test_probe_does_not_rebuild_index_and_is_deterministic(self, spark):
        from etl_entregas_pyspark_spark import stores
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_ivf_index,
            q232_ivf_sq8_rescore,
        )

        ensure_ivf_index(spark, SF_DIR)
        path = stores.path(spark, SF_DIR, "ivf_index")
        builds = stores.BUILDS[path]
        a = sorted(map(tuple, q232_ivf_sq8_rescore(spark, SF_DIR).collect()))
        b = sorted(map(tuple, q232_ivf_sq8_rescore(spark, SF_DIR).collect()))
        assert a == b
        assert stores.BUILDS[path] == builds  # probes never rebuild

    def test_neighbors_come_from_probed_buckets_only(self, spark):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_ivf_index,
            q232_ivf_sq8_rescore,
        )
        from etl_entregas_pyspark_spark.queries.similarity import (
            _NPROBE,
            ivf_assign,
        )

        idx = ensure_ivf_index(spark, SF_DIR)
        cent = spark.read.parquet(os.path.join(idx, "centroids"))
        cand = spark.read.parquet(os.path.join(idx, "cand"))
        bucket = {r.vec_id: r.centroid_id for r in cand.collect()}
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        probes = ivf_assign(
            e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)),
            cent,
            keep=_NPROBE,
        )
        probed: dict[int, set] = {}
        for r in probes.collect():
            probed.setdefault(r.vec_id, set()).add(r.centroid_id)
        for r in q232_ivf_sq8_rescore(spark, SF_DIR).collect():
            assert bucket[r.neighbor_id] in probed[r.query_id]


class TestQ233BandPlanSweep:
    def test_plan_rows_and_shared_truth(self, spark):
        from etl_entregas_pyspark_spark.queries.similarity import (
            q233_lsh_band_plan_sweep,
        )

        rows = q233_lsh_band_plan_sweep(spark, SF_DIR).collect()
        assert [(r.rows_per_band, r.n_bands) for r in rows] == [
            (1, 12), (2, 6), (3, 4), (6, 2),
        ]
        # the truth arm is plan-independent
        assert len({r.n_true_pairs for r in rows}) == 1
        for r in rows:
            assert 0 <= r.n_hit <= r.n_true_pairs
            assert 0.0 <= r.recall <= 1.0
            assert 0.0 <= r.band_precision <= 1.0
            assert 0.0 <= r.expected_recall <= 1.0

    def test_nested_plans_are_monotone(self, spark):
        """Band blocks nest along divisor chains (1|2|6 and 1|3|6): a pair
        agreeing on a width-6 band agrees on its aligned width-3 and
        width-2 sub-bands, so candidates/hits/recall are monotone along
        those chains — more rows per band = fewer candidates, lower
        recall. Theory (E[recall]) is monotone in r outright."""
        from etl_entregas_pyspark_spark.queries.similarity import (
            q233_lsh_band_plan_sweep,
        )

        by_r = {
            r.rows_per_band: r
            for r in q233_lsh_band_plan_sweep(spark, SF_DIR).collect()
        }
        for chain in ((1, 2, 6), (1, 3, 6)):
            for lo, hi in zip(chain, chain[1:]):
                assert by_r[hi].n_candidates <= by_r[lo].n_candidates
                assert by_r[hi].n_hit <= by_r[lo].n_hit
                assert by_r[hi].recall <= by_r[lo].recall
        exp = [by_r[r].expected_recall for r in (1, 2, 3, 6)]
        assert exp == sorted(exp, reverse=True)

    def test_production_plan_row_matches_q192_audit(self, spark):
        """Cross-instrument equality: the (4 bands x 3 rows) row of the
        sweep must reproduce q192's recall audit exactly — same truth
        count, same hits (truth ∩ candidates == truth ∩ verified pairs,
        since truth already passes the Jaccard gate), same theory."""
        from etl_entregas_pyspark_spark.queries.similarity import (
            q192_lsh_recall_audit,
            q233_lsh_band_plan_sweep,
        )

        audit = q192_lsh_recall_audit(spark, SF_DIR).collect()[0]
        sweep = {
            r.rows_per_band: r
            for r in q233_lsh_band_plan_sweep(spark, SF_DIR).collect()
        }[3]
        assert sweep.n_true_pairs == audit.n_true_pairs
        assert sweep.n_hit == audit.n_hit
        assert sweep.recall == audit.recall
        assert sweep.expected_recall == audit.expected_recall


class TestQ234RefreshApply:
    def test_rebuilt_bucket_sizes_match_q231_audit(self, spark):
        """The applied index must land exactly where the audit said the
        members would go: per-centroid size of the rebuilt inverted file
        == n_stay + n_in from q231's migration table."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_refreshed_ivf_index,
            q231_ivf_centroid_refresh,
        )

        audit = {
            r.centroid_id: r.n_stay + r.n_in
            for r in q231_ivf_centroid_refresh(spark, SF_DIR).collect()
        }
        idx = ensure_refreshed_ivf_index(spark, SF_DIR)
        cand = spark.read.parquet(os.path.join(idx, "cand"))
        got = {
            r.centroid_id: r.n
            for r in cand.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
        }
        for cid, want in audit.items():
            assert got.get(cid, 0) == want
        # and nothing was lost or duplicated in the rewrite
        assert sum(got.values()) == sum(
            r.n_members
            for r in q231_ivf_centroid_refresh(spark, SF_DIR).collect()
        )

    def test_layout_and_idempotence(self, spark):
        import glob

        from etl_entregas_pyspark_spark import stores
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_refreshed_ivf_index,
            q234_ivf_refresh_apply,
        )

        idx = ensure_refreshed_ivf_index(spark, SF_DIR)
        assert os.path.exists(os.path.join(idx, "cand", "_SUCCESS"))
        assert glob.glob(os.path.join(idx, "cand", "centroid_id=*"))
        builds = stores.BUILDS[idx]
        assert ensure_refreshed_ivf_index(spark, SF_DIR) == idx
        a = sorted(map(tuple, q234_ivf_refresh_apply(spark, SF_DIR).collect()))
        b = sorted(map(tuple, q234_ivf_refresh_apply(spark, SF_DIR).collect()))
        assert a == b
        assert stores.BUILDS[idx] == builds  # probes never rebuild

    def test_persisted_probe_equals_recompute(self, spark):
        """Persisted-vs-recompute equivalence for the REBUILT index: the
        probe over the parquet round-tripped centroids/buckets must equal
        the same probe computed straight from the refreshed model state."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            _committed_assignment,
            q234_ivf_refresh_apply,
            refreshed_centroids,
        )
        from etl_entregas_pyspark_spark.queries.similarity import (
            _IVF_TOPK,
            _NPROBE,
            dot,
            ivf_assign,
            sq_norm,
        )
        from pyspark.sql.window import Window

        cent = refreshed_centroids(_committed_assignment(spark, SF_DIR)).select(
            F.col("new_cid").alias("centroid_id"), F.col("nc_emb").alias("c_emb")
        )
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        cand = ivf_assign(e.filter(F.col("vec_id") >= 16), cent, keep=1).drop("d2")
        probes = (
            ivf_assign(
                e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)),
                cent,
                keep=_NPROBE,
            )
            .drop("d2")
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
                "centroid_id",
            )
        )
        cos = dot(F.col("q_emb"), F.col("embedding")) / (
            F.sqrt(sq_norm(F.col("q_emb"))) * F.sqrt(sq_norm(F.col("embedding")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        fresh = (
            cand.join(F.broadcast(probes), "centroid_id")
            .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
            .select("*", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= _IVF_TOPK)
        )
        want = sorted(
            (r.query_id, r.neighbor_id, r.rank) for r in fresh.collect()
        )
        got = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in q234_ivf_refresh_apply(spark, SF_DIR).collect()
        )
        assert got == want


class TestQ235ReplanFromSignatures:
    def test_signature_store_schema_and_idempotence(self, spark):
        from etl_entregas_pyspark_spark import stores
        from etl_entregas_pyspark_spark.queries.lsh_index import (
            ensure_signature_store,
        )
        from etl_entregas_pyspark_spark.queries.similarity import N_HASHES

        path = ensure_signature_store(spark, SF_DIR)
        sig = spark.read.parquet(path)
        assert set(sig.columns) == {"doc_id"} | {
            f"mh{j}" for j in range(N_HASHES)
        }
        builds = stores.BUILDS[path]
        assert ensure_signature_store(spark, SF_DIR) == path
        assert stores.BUILDS[path] == builds

    def test_replan_never_reshingles(self, spark):
        """The whole point of the signature store: a banding change must
        not re-hash the corpus. Re-running the re-plan leaves the store's
        build counter untouched."""
        from etl_entregas_pyspark_spark import stores
        from etl_entregas_pyspark_spark.queries.lsh_index import (
            ensure_signature_store,
            q235_lsh_replan_from_signatures,
        )

        ensure_signature_store(spark, SF_DIR)
        path = stores.path(spark, SF_DIR, "lsh_sig_store")
        builds = stores.BUILDS[path]
        a = sorted(map(tuple, q235_lsh_replan_from_signatures(spark, SF_DIR).collect()))
        b = sorted(map(tuple, q235_lsh_replan_from_signatures(spark, SF_DIR).collect()))
        assert a == b
        assert stores.BUILDS[path] == builds

    def test_recall_heavy_plan_is_superset_of_q53(self, spark):
        """Width-2 bands nest inside q53's aligned width-3 bands, so every
        q53 candidate collides under the 6x2 plan too; with the identical
        exact-Jaccard verify, q53's verified pairs are a subset."""
        from etl_entregas_pyspark_spark.queries.lsh_index import (
            q235_lsh_replan_from_signatures,
        )
        from etl_entregas_pyspark_spark.queries.similarity import (
            q53_minhash_near_dup,
        )

        wide = {
            (r.doc_a, r.doc_b)
            for r in q235_lsh_replan_from_signatures(spark, SF_DIR).collect()
        }
        prod = {
            (r.doc_a, r.doc_b)
            for r in q53_minhash_near_dup(spark, SF_DIR).collect()
        }
        assert prod <= wide

    def test_all_pairs_pass_threshold(self, spark):
        from etl_entregas_pyspark_spark.queries.lsh_index import (
            q235_lsh_replan_from_signatures,
        )
        from etl_entregas_pyspark_spark.queries.similarity import (
            JACCARD_THRESHOLD,
        )

        for r in q235_lsh_replan_from_signatures(spark, SF_DIR).collect():
            assert r.jaccard >= JACCARD_THRESHOLD
            assert r.doc_a < r.doc_b


class TestQ236ShortlistSweep:
    def test_monotone_recall_and_cost(self, spark):
        """Shortlists nest (same quantized ranking, deeper cut), and a
        probed-top-3 member inside any shortlist always survives its
        exact-cosine rescore — so hits and recall are monotone in R."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q236_sq8_shortlist_sweep,
        )

        rows = q236_sq8_shortlist_sweep(spark, SF_DIR).collect()
        assert [r.shortlist for r in rows] == [3, 4, 6, 8]
        hits = [r.hits for r in rows]
        recalls = [r.recall_at_k for r in rows]
        assert hits == sorted(hits)
        assert recalls == sorted(recalls)
        for r in rows:
            assert r.n_rescored == r.n_queries * r.shortlist
            assert 0.0 <= r.recall_at_k <= 1.0

    def test_top_budget_row_matches_q232_vs_q223(self, spark):
        """Cross-instrument equality: the R=8 row's hit count must equal
        the overlap between q232's rescored top-3 (shortlist 8) and the
        full-precision persisted probe's top-3 (q223), counted directly."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q223_ivf_probe_persisted,
            q232_ivf_sq8_rescore,
            q236_sq8_shortlist_sweep,
        )

        sq8 = {
            (r.query_id, r.neighbor_id)
            for r in q232_ivf_sq8_rescore(spark, SF_DIR).collect()
        }
        exact = {
            (r.query_id, r.neighbor_id)
            for r in q223_ivf_probe_persisted(spark, SF_DIR).collect()
        }
        row8 = {
            r.shortlist: r
            for r in q236_sq8_shortlist_sweep(spark, SF_DIR).collect()
        }[8]
        assert row8.hits == len(sq8 & exact)
