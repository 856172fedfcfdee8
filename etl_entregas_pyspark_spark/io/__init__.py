from etl_entregas_pyspark_spark.io.readers import (
    read_csv_raw,
    read_parquet,
    read_table,
)
from etl_entregas_pyspark_spark.io.writers import (
    write_partitioned,
    write_metrics_json,
)

__all__ = [
    "read_csv_raw",
    "read_parquet",
    "read_table",
    "write_partitioned",
    "write_metrics_json",
]
