"""Round-12 operators and advisory fixes.

Covers, as they land this round:
- the empty-micro-batch fix in ``upsert_batch_bucketed`` (r11 ADVICE #1:
  foreachBatch may deliver empty batches; the bucketed merge used to
  raise on ``repartition(0)``),
- the on-change-only tier / ``_PRIORITY`` disjointness guard (ADVICE #4).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.streaming.upsert_sink import (
    _read_pointer,
    read_bucketed_snapshot,
    snapshot_view,
    upsert_batch_bucketed,
)


def _log(spark, sf_dir, n=24):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        .orderBy("event_id")
        .limit(n)
    )


def _rows(df):
    return sorted(
        (r.user_id, round(r.current_value, 6), r.n_ops) for r in df.collect()
    )


class TestEmptyMicroBatch:
    def test_empty_batch_fences_epoch_without_touching_store(
        self, spark, sf_dir, tmp_path
    ):
        snap = str(tmp_path / "snap")
        batch0 = _log(spark, sf_dir).localCheckpoint()
        assert upsert_batch_bucketed(batch0, 0, snap) is True
        ptr0 = _read_pointer(snap)
        before = _rows(snapshot_view(read_bucketed_snapshot(spark, snap)))

        empty = batch0.filter(F.lit(False))
        # must not raise (repartition(0) used to), and must COMMIT epoch 1
        assert upsert_batch_bucketed(empty, 1, snap) is True
        ptr1 = _read_pointer(snap)
        assert ptr1["epoch"] == 1
        assert ptr1["version"] == ptr0["version"]  # no new version dirs
        assert ptr1["buckets"] == ptr0["buckets"]  # manifest unchanged
        assert _rows(snapshot_view(read_bucketed_snapshot(spark, snap))) == before
        # no stray staging/bucket dirs appeared
        assert not any(
            e.startswith("_staging") for e in os.listdir(snap)
        )

        # the fenced empty epoch is a no-op on re-delivery
        assert upsert_batch_bucketed(empty, 1, snap) is False
        # and the stream continues: a later non-empty epoch still applies
        batch2 = _log(spark, sf_dir, n=48).subtract(batch0).localCheckpoint()
        assert batch2.count() > 0
        assert upsert_batch_bucketed(batch2, 2, snap) is True
        assert _read_pointer(snap)["epoch"] == 2
        after = _rows(snapshot_view(read_bucketed_snapshot(spark, snap)))
        assert after != before


class TestRegistryDemoTier:
    def test_on_change_only_disjoint_from_priority(self):
        from etl_entregas_pyspark_spark.queries import registry

        assert registry.on_change_only().isdisjoint(registry._PRIORITY)


# ---------------------------------------------------------------------------
# q227/q228 — IVF governance parity with the LSH band index
# ---------------------------------------------------------------------------


def _member_rows(spark, store_dir):
    from etl_entregas_pyspark_spark.queries.ivf_index import IVF_MEMBER_COLS
    from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore

    df = EpochStore(store_dir, IVF_MEMBER_COLS).read(spark)
    assert df is not None
    return sorted((r.vec_id, r.centroid_id) for r in df.collect())


def _batch_membership(spark, sf_dir):
    """The one-shot batch assignment the live store must converge to."""
    from etl_entregas_pyspark_spark.queries.ivf_index import ensure_ivf_index
    from etl_entregas_pyspark_spark.queries.similarity import ivf_assign

    cent = spark.read.parquet(
        os.path.join(ensure_ivf_index(spark, sf_dir), "centroids")
    )
    corpus = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") >= 16)
        .select("vec_id", "embedding")
    )
    return sorted(
        (r.vec_id, r.centroid_id)
        for r in ivf_assign(corpus, cent, keep=1)
        .select("vec_id", "centroid_id")
        .collect()
    )


class TestLiveIvfMembership:
    def test_live_store_converges_to_batch_assignment(self, spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_live_ivf_membership,
        )
        from etl_entregas_pyspark_spark.streaming.epoch_store import (
            read_pointer,
        )

        path = ensure_live_ivf_membership(spark, sf_dir)
        assert _member_rows(spark, path) == _batch_membership(spark, sf_dir)
        # the maintenance history is physically visible: a compacted base
        # absorbing epochs 0-1 plus a surviving post-compaction epoch=2
        ptr = read_pointer(path)
        assert ptr["epoch"] == 2 and ptr["base_through_epoch"] == 1
        entries = set(os.listdir(path))
        assert f"base=v{ptr['base_version']}" in entries
        assert "epoch=2" in entries
        assert "epoch=0" not in entries and "epoch=1" not in entries

    def test_streaming_sink_converges_to_batch_assignment(
        self, spark, sf_dir, tmp_path
    ):
        """Drive the foreachBatch body through a REAL readStream (the
        test_band_index_sink discipline for vectors)."""
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        from etl_entregas_pyspark_spark.queries.ivf_index import (
            ensure_ivf_index,
            start_ivf_membership_sink,
        )

        corpus = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") >= 16)
            .select("vec_id", "embedding")
        )
        src = str(tmp_path / "vec_slices")
        os.makedirs(src)
        for i in range(3):
            corpus.filter(F.pmod(F.col("vec_id"), 3) == i).coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(src, f"s{i}"))
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        store = str(tmp_path / "member_store")
        cent_path = os.path.join(
            ensure_ivf_index(spark, sf_dir), "centroids"
        )
        q = start_ivf_membership_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*"),
            store,
            cent_path,
            str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()
        assert _member_rows(spark, store) == _batch_membership(spark, sf_dir)

    def test_q228_equals_q223_results(self, spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q223_ivf_probe_persisted,
            q228_live_ivf_probe,
        )

        key = lambda r: (  # noqa: E731
            r.query_id, r.rank, r.neighbor_id, round(r.cosine, 9)
        )
        live = sorted(key(r) for r in q228_live_ivf_probe(spark, sf_dir).collect())
        batch = sorted(
            key(r) for r in q223_ivf_probe_persisted(spark, sf_dir).collect()
        )
        assert live == batch and len(live) > 0


class TestIvfDeletionPropagation:
    def test_scrub_deletes_exactly_the_denied_rows(self, spark, sf_dir, tmp_path):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            IVF_MEMBER_COLS,
            scrub_ivf_membership,
        )
        from etl_entregas_pyspark_spark.streaming.epoch_store import EpochStore

        store_dir = str(tmp_path / "m")
        store = EpochStore(store_dir, IVF_MEMBER_COLS)
        full = spark.createDataFrame(
            [(i, i % 4) for i in range(40)], "vec_id long, centroid_id int"
        )
        store.seed(full.filter(F.col("vec_id") < 20))
        store.append(full.filter(F.col("vec_id") >= 20), 1)
        deny = spark.range(0, 40, 7).select(F.col("id").alias("vec_id"))
        deny_ids = {r.vec_id for r in deny.collect()}
        n = scrub_ivf_membership(spark, store_dir, deny)
        assert n == 40 - len(deny_ids)
        got = _member_rows(spark, store_dir)
        assert got == sorted(
            (i, i % 4) for i in range(40) if i not in deny_ids
        )

    def test_crash_mid_scrub_never_half_deletes(self, spark, sf_dir, tmp_path):
        """The test_band_index_sink discipline: dying between the filtered
        base write and the pointer swing leaves the membership store
        intact and fully re-runnable."""
        import pytest

        from etl_entregas_pyspark_spark.queries.ivf_index import (
            IVF_MEMBER_COLS,
            scrub_ivf_membership,
        )
        from etl_entregas_pyspark_spark.streaming.epoch_store import (
            TEST_HOOKS,
            EpochStore,
        )

        store_dir = str(tmp_path / "m")
        store = EpochStore(store_dir, IVF_MEMBER_COLS)
        full = spark.createDataFrame(
            [(i, i % 4) for i in range(30)], "vec_id long, centroid_id int"
        )
        store.seed(full)
        before = _member_rows(spark, store_dir)
        deny = spark.range(0, 30, 5).select(F.col("id").alias("vec_id"))

        def _boom():
            raise RuntimeError("crash between base write and swing")

        TEST_HOOKS["scrub_after_base_write"] = _boom
        try:
            with pytest.raises(RuntimeError):
                scrub_ivf_membership(spark, store_dir, deny)
        finally:
            TEST_HOOKS.clear()
        assert _member_rows(spark, store_dir) == before  # nothing lost
        # the re-run completes the deletion exactly
        n = scrub_ivf_membership(spark, store_dir, deny)
        assert n == 24
        assert _member_rows(spark, store_dir) == [
            (i, i % 4) for i in range(30) if i % 5 != 0
        ]

    def test_q227_arithmetic_holds(self, spark, sf_dir):
        from etl_entregas_pyspark_spark.queries.ivf_index import (
            q227_ivf_deletion_propagation,
        )

        got = {
            r.metric: r.n_rows
            for r in q227_ivf_deletion_propagation(spark, sf_dir).collect()
        }
        assert (
            got["membership_rows_before"] - got["membership_rows_deleted"]
            == got["membership_rows_after"]
        )
        assert got["membership_rows_deleted"] == got["deny_vecs_indexed"]
        assert got["deny_vecs_indexed"] <= got["deny_vecs_total"]
        assert got["membership_rows_deleted"] > 0  # the request set bites
