"""Live decontamination admission gate: the filter in front of the
training-data lake.

Arriving documents are gated against the STATIC held-out benchmark
n-gram set (q64's scrub width): a document sharing any gram is
quarantined, the rest are admitted, and a per-source admission LEDGER
accumulates exactly-once across micro-batches with the package's one
epoch-fence/pointer-swing recipe (epoch_store). The registered batch
twin is queries/datasplit.py:q263_admission_ledger — live-vs-batch
equivalence and re-delivery idempotence are pinned in
tests/test_streaming.py.

Scale shape: the bench gram set is eval-sized by definition ->
broadcast; each micro-batch pays one gram explode + map-side semi-join
+ a per-source partial agg (|sources| rows), and the ledger merge is a
|sources|-row full-outer fold — state is bounded by the source domain,
never the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_entregas_pyspark_spark.io.readers import read_parquet
from etl_entregas_pyspark_spark.streaming.epoch_store import (
    commit_pointer as _commit_pointer,
    read_pointer as _read_pointer,
)

LEDGER_COLS = ["source", "n_docs", "n_quarantined"]


def batch_admission_counts(docs: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """(source, n_docs, n_quarantined) for one slice of documents gated
    against the (already distinct) bench gram set."""
    from etl_entregas_pyspark_spark.queries.datasplit import _gram_stream

    hit_docs = (
        _gram_stream(docs)
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(hit_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
                "n_quarantined"
            ),
        )
    )


def _merge_ledger(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    if existing is None:
        return batch.select(*LEDGER_COLS)
    return (
        existing.select(*LEDGER_COLS)
        .unionByName(batch.select(*LEDGER_COLS))
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_quarantined").cast("bigint").alias("n_quarantined"),
        )
    )


def read_admission_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame | None:
    ptr = _read_pointer(ledger_dir)
    if ptr["version"] == 0:
        return None
    return read_parquet(spark, os.path.join(ledger_dir, f"v{ptr['version']}"))


def admission_batch(
    batch_df: DataFrame,
    epoch_id: int,
    bench_grams: DataFrame,
    ledger_dir: str,
) -> bool:
    """Fold one micro-batch of documents into the admission ledger;
    returns False when the epoch was already committed (re-delivery after
    recovery — skipped, so counts never double). Write order is the
    store-wide crash-safe recipe: version directory first, pointer swing
    (atomic rename) last."""
    os.makedirs(ledger_dir, exist_ok=True)
    ptr = _read_pointer(ledger_dir)
    if epoch_id <= ptr["epoch"]:
        return False
    spark = batch_df.sparkSession
    merged = _merge_ledger(
        read_admission_ledger(spark, ledger_dir),
        batch_admission_counts(batch_df, bench_grams),
    )
    new_version = ptr["version"] + 1
    merged.write.mode("overwrite").parquet(
        os.path.join(ledger_dir, f"v{new_version}")
    )
    _commit_pointer(ledger_dir, epoch_id, new_version)
    return True


def start_admission_sink(
    docs_stream: DataFrame,
    bench_grams: DataFrame,
    ledger_dir: str,
    checkpoint_dir: str,
):
    """Run the live document stream through the admission gate into the
    per-source ledger store."""
    return (
        docs_stream.writeStream.foreachBatch(
            lambda df, epoch: admission_batch(df, epoch, bench_grams, ledger_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
