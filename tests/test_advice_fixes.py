"""Regression tests for round-1 advisor findings: q66 tail-token coverage
and dotlist overrides of not-yet-present flat Spark conf keys."""

from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.config import apply_dotlist, load_config
from etl_entregas_pyspark_spark.queries.datasplit import (
    _CHUNK,
    _STRIDE,
    q66_chunking,
)
from tests.conftest import SF_DIR


class TestDotlistFlatKeys:
    def test_new_flat_spark_conf_key_stays_flat(self):
        """A conf key absent from the defaults must become a flat entry in
        spark.configs, never a nested dict that stringifies to garbage."""
        cfg = load_config(dotlist=["spark.configs.spark.executor.memory=8g"])
        assert cfg["spark"]["configs"]["spark.executor.memory"] == "8g"
        assert "spark" not in cfg["spark"]["configs"] or not isinstance(
            cfg["spark"]["configs"].get("spark"), dict
        )

    def test_existing_flat_key_still_updates(self):
        cfg = load_config(dotlist=["spark.configs.spark.sql.shuffle.partitions=64"])
        assert cfg["spark"]["configs"]["spark.sql.shuffle.partitions"] == 64

    def test_non_flat_paths_still_nest(self):
        out = apply_dotlist({"a": {"b": 1}}, ["a.c.d=2"])
        assert out["a"]["c"]["d"] == 2


class TestChunkCoverage:
    def test_every_token_in_some_chunk(self, spark):
        """CEIL chunk count: the union of chunk windows must cover every
        token of every document — the final (possibly partial) window
        reaches the last token even when (len - CHUNK) % STRIDE != 0."""
        out = q66_chunking(spark, SF_DIR).collect()
        lens = {
            r.doc_id: r.n
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 300)
            .select("doc_id", F.size(F.split("text", " ")).alias("n"))
            .collect()
        }
        covered_to = {}
        for r in out:
            end = r.chunk_id * _STRIDE + len(r.chunk_text.split(" "))
            covered_to[r.doc_id] = max(covered_to.get(r.doc_id, 0), end)
        assert set(covered_to) == set(lens)
        for doc_id, n in lens.items():
            assert covered_to[doc_id] == n, f"doc {doc_id}: covered {covered_to[doc_id]} of {n}"
        # at least one doc exercises the partial-tail case
        assert any((n - _CHUNK) > 0 and (n - _CHUNK) % _STRIDE for n in lens.values())


class TestRound4AdviceFixes:
    """Round-4 advisor findings: q133 tie determinism, q131 laziness,
    q136 degenerate-half NULL consistency."""

    def test_island_sum_window_deterministic_under_ts_ties(self, spark):
        """Two same-user errors at the SAME timestamp tie on (s, e) since
        every interval has a fixed span; the running-sum window must
        replay the (s, event_id) order the flags were computed under, so
        a ni=0 row can never precede its ni=1 peer and glue a new island
        onto the previous one across a real gap."""
        from datetime import datetime

        from etl_entregas_pyspark_spark.queries.timeseries import (
            _ISLAND_SPAN_US,
            q133_interval_islands,
        )

        span_s = _ISLAND_SPAN_US // 1_000_000
        rows = [
            # island 1: two errors at the SAME ts (the tie), window [0, span)
            (1, datetime(2024, 1, 1, 0, 0, 0), 10, "error", 1.0, "{}"),
            (1, datetime(2024, 1, 1, 0, 0, 0), 11, "error", 1.0, "{}"),
            # island 2: far beyond island 1's end — a real gap, then
            # another tied pair
            (1, datetime(2024, 1, 1, 3, 0, 0), 12, "error", 1.0, "{}"),
            (1, datetime(2024, 1, 1, 3, 0, 0), 13, "error", 1.0, "{}"),
        ]
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "user_id long, ts timestamp, event_id long, event_type string, value double, props string"
            ).write.parquet(f"{d}/events.parquet")
            got = {r.user_id: (r.n_islands, r.covered_us) for r in
                   q133_interval_islands(spark, d).collect()}
        # 2 islands; each covers exactly one span (the tied twin adds no
        # coverage). A tie-order bug yields 1 island spanning the gap or
        # inflated covered_us.
        assert got == {1: (2, 2 * _ISLAND_SPAN_US)}

    def test_global_ids_plan_builds_without_jobs(self, spark):
        """Schema-only registry walks (dump_plans, the driver's schema
        probe) must not trigger Spark jobs: building the q131 frame and
        reading .schema should leave the executed-jobs counter unchanged
        (parquet footer reads excepted — they are driver-side)."""
        from etl_entregas_pyspark_spark.queries.relational import q131_global_index
        from tests.conftest import SF_DIR

        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None) or [])
        df = q131_global_index(spark, SF_DIR)
        _ = df.schema
        after = set(tracker.getJobIdsForGroup(None) or [])
        # parquet reads may schedule a 1-task file-listing job; the eager
        # design ran a full count+localCheckpoint (multi-stage shuffle
        # jobs). Assert nothing beyond trivial listing jobs ran.
        new_jobs = after - before
        assert len(new_jobs) <= 2, f"plan build ran jobs: {sorted(new_jobs)}"

    def test_chisq_degenerate_half_yields_null_not_nan(self, spark):
        """When every event lands in ONE month half, the expected-count
        denominator is 0; both engines must yield NULL (not inf/NaN)."""
        import math
        import tempfile
        from datetime import datetime

        from etl_entregas_pyspark_spark.queries.events import q136_chisq_drift

        rows = [
            (i, datetime(2024, 1, 3, i % 24, 0, 0), i, "click", 1.0, "{}")
            for i in range(8)
        ]  # all day <= 15 → t_second = 0
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            ).write.parquet(f"{d}/events.parquet")
            out = q136_chisq_drift(spark, d).collect()
        assert len(out) == 1
        v = out[0].chi2_contrib
        assert v is None or not math.isnan(v), f"expected NULL, got {v}"
        assert v is None


class TestRound6AdviceFixes:
    def test_upsert_sink_prunes_superseded_snapshot_versions(self, spark):
        """The snapshot store must not grow one full copy per micro-batch:
        after epoch N commits, only v<N> and v<N-1> (crash-recovery
        predecessor) may remain on disk."""
        import os
        import tempfile
        from datetime import datetime

        from etl_entregas_pyspark_spark.streaming.upsert_sink import (
            _read_pointer,
            upsert_batch,
        )

        def batch(eid):
            return spark.createDataFrame(
                [(1, eid, datetime(2024, 1, 1, 0, 0, eid), float(eid), "U")],
                "user_id long, event_id long, ts timestamp, value double, op string",
            )

        with tempfile.TemporaryDirectory() as d:
            for epoch in range(4):
                assert upsert_batch(batch(epoch), epoch, d)
            versions = sorted(e for e in os.listdir(d) if e.startswith("v"))
            assert versions == ["v3", "v4"], versions
            assert _read_pointer(d)["epoch"] == 3

    def test_q150_bucket_path_is_stable_per_session(self, spark, sf_dir):
        """Repeated q150 invocations must reuse ONE per-session scratch
        directory (cleaned before each rewrite), not leak a fresh mkdtemp
        per run, and the table name must be session-suffixed."""
        import os

        from etl_entregas_pyspark_spark.queries.bucketed import _bucket_table

        t1, p1 = _bucket_table(spark, sf_dir)
        t2, p2 = _bucket_table(spark, sf_dir)
        assert (t1, p1) == (t2, p2)
        app_id = spark.sparkContext.applicationId
        assert app_id.replace("-", "_") in t1
        assert os.path.basename(p1).startswith("q150_bucketed_docs_")
