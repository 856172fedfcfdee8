"""Query corpus: every operator capability from SURVEY.md §2, expressed as
(PySpark builder, DuckDB oracle SQL) pairs over the synthetic star schema
(TESTDATA.md tables).

The registry is what ``__spark_entry__.py`` exposes to the driver: each
``QuerySpec.spark`` callable takes ``(spark, sf_dir)`` and returns a
DataFrame; ``QuerySpec.oracle`` is ANSI SQL DuckDB runs over the same
parquet, or ``None`` for genuinely non-SQL-expressible operators (the
driver then records a weaker rows-only check).

Determinism contract (both sides obey it, so value hashes match):
- monetary / double sums are computed over ``decimal`` casts (exact,
  order-independent addition) and rounded;
- averages are ``round(exact_sum / count, k)`` — one fp division;
- every top-k / window ordering carries a unique tie-break key;
- column names are identical on both sides (driver sorts columns by name
  before hashing).
"""

from etl_entregas_pyspark_spark.queries.registry import (
    QuerySpec,
    REGISTRY,
    register,
    all_queries,
    all_oracle_sql,
    check_tiers,
)

# importing the modules populates the registry
from etl_entregas_pyspark_spark.queries import relational  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import events  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import text  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import similarity  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import sketches  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import media  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import complex_types  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import subqueries  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import asof  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import advanced  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import datasplit  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import timeseries  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import entregas  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import audit  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import mlmetrics  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import retrieval  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import bucketed  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import incremental  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import setjoin  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import lsh_index  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import ivf_index  # noqa: E402,F401
from etl_entregas_pyspark_spark.queries import geo  # noqa: E402,F401

check_tiers()

__all__ = [
    "QuerySpec",
    "REGISTRY",
    "register",
    "all_queries",
    "all_oracle_sql",
]
