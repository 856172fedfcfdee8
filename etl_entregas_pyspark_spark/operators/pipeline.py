"""The end-to-end entregas pipeline: the reference's six stages
(``src/etl_entregas.py:524-588``: extract → quality → filter → transform →
standardize → load) recomposed from the operator library.

Differences from the reference, all scale-motivated (SURVEY §4.3):
- metrics: one aggregation pass over a cached post-quality frame instead of
  11 uncached count() actions;
- sink: distributed ``partitionBy`` writer instead of a driver-side
  toPandas() loop;
- enrichment: four projection layers, each shared intermediate computed
  once, instead of 20+ withColumn calls.

Stage outputs are pure DataFrame→DataFrame, so any stage is usable alone
(library entry point parity, SURVEY §3.2).
"""

from __future__ import annotations

import time
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from etl_entregas_pyspark_spark.io.readers import read_csv_raw
from etl_entregas_pyspark_spark.io.writers import write_metrics_json, write_partitioned
from etl_entregas_pyspark_spark.operators import derive, filters, project, quality


class EntregasPipeline:
    def __init__(self, spark: SparkSession, config: Mapping[str, Any]):
        self.spark = spark
        self.config = dict(config)

    # -- stages -------------------------------------------------------------
    def extract(self, path: str | None = None) -> DataFrame:
        input_path = path or self.config.get("paths", {}).get("input_file")
        if not input_path:
            raise ValueError("paths.input_file not configured")
        return read_csv_raw(self.spark, str(input_path))

    def apply_data_quality(self, df: DataFrame) -> tuple[DataFrame, dict[str, int]]:
        metrics = quality.quality_metrics(df, self.config)
        return quality.apply_quality(df, self.config), metrics

    def apply_filters(self, df: DataFrame) -> DataFrame:
        return filters.apply_filters(df, self.config)

    def transform(self, df: DataFrame) -> DataFrame:
        return derive.derive_all(df, self.config)

    def standardize_columns(self, df: DataFrame) -> DataFrame:
        return project.standardize(df, self.config)

    def load(self, df: DataFrame, base_path: str | None = None) -> dict[str, Any]:
        output_base = base_path or self.config.get("paths", {}).get("output_base")
        if not output_base:
            raise ValueError("paths.output_base not configured")
        write_partitioned(df, str(output_base), partition_cols=["fecha_proceso"], fmt="csv")
        return {"output_path": str(output_base)}

    # -- orchestration --------------------------------------------------------
    def run(self, write: bool = True) -> dict[str, Any]:
        started = time.time()
        raw = self.extract()
        cleaned, dq_metrics = self.apply_data_quality(raw)
        filtered = self.apply_filters(cleaned)
        enriched = self.transform(filtered)
        final = self.standardize_columns(enriched)

        metrics: dict[str, Any] = {"data_quality": dq_metrics}
        if write:
            # Observation: the output-row metric rides the write pass itself
            # (observe() accumulates during the action) — no cache, no second
            # materialization, works at any data size.
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation("entregas_output")
            observed = final.observe(obs, F.count(F.lit(1)).alias("output_rows"))
            metrics.update(self.load(observed))
            metrics["output_rows"] = obs.get["output_rows"]
        metrics["duration_sec"] = round(time.time() - started, 3)

        metrics_path = self.config.get("paths", {}).get("metrics_file")
        if metrics_path:
            write_metrics_json(metrics, str(metrics_path))
        return metrics
