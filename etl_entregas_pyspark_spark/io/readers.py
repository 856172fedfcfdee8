"""Sources.

``read_csv_raw`` reproduces the reference's exact CSV semantics
(``src/etl_entregas.py:101-106``): header on, NO schema inference (every
column lands as string), double-quote as both quote and escape char. The
all-string "raw layer" is a parity requirement — typing happens later via
explicit casts (derive.F1), never via inference.

Parquet is the primary format for the analytics corpus (the driver's
TPC-H-ish testdata is parquet) — columnar, splittable, predicate-pushdown
and column-pruning friendly, which is what makes the 100 TB target viable:
a filtered 2-column query should scan only those columns' pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv_raw(spark: SparkSession, path: str, **extra: str) -> DataFrame:
    """All-string CSV scan with the reference's options."""
    reader = (
        spark.read.option("header", "true")
        .option("inferSchema", "false")
        .option("quote", '"')
        .option("escape", '"')
    )
    for key, value in extra.items():
        reader = reader.option(key, value)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, multiline: bool = False) -> DataFrame:
    return spark.read.option("multiLine", str(multiline).lower()).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One synthetic star-schema table (TESTDATA.md) by name."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
