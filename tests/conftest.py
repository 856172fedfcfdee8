import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
REFERENCE_CSV = "/root/reference/data/raw/data_entrega_productos.csv"

# Synthetic entregas input in the reference's CSV shape (FIXTURES.md §A),
# committed so the end-to-end pipeline tests run without the reference CSV.
# Its ladder under config/config.yaml, by hand:
#   23 rows in
#   - 5 P1 (material NULL x3 incl. two identical rows, quoted "" which the
#     CSV reader also yields as NULL, "   " which trims to blank; one of
#     them is COBR and counts here only)
#   - 3 P2 (COBR with a valid material; two of them identical, so they are
#     not counted again as duplicates)
#   - 5 P3 duplicates among the 15 rows left (GT/20250114 x3, PE/20250321
#     x2, GT/20241231 x2, XX/20250114 x2 -> 10 distinct)
#   = 9 final_rows after P4 drops the invalid country XX ("gt" passes upper())
# The date filter (20250101..20250630) then drops 20241231 and 20250701:
# 7 output rows in 4 partitions {20250114: 2, 20250215: 2, 20250321: 1,
# 20250602: 2}. Prices include 0E-18 and rows straddle precio_total 1000.
FIXTURE_CSV = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "entregas_small.csv")
FIXTURE_LADDER = {
    "input_rows": 23,
    "null_material_removed": 5,
    "invalid_type_removed": 3,
    "duplicates_removed": 5,
    "final_rows": 9,
}
FIXTURE_PARTITION_ROWS = {"20250114": 2, "20250215": 2, "20250321": 1, "20250602": 2}


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.appName("etl-entregas-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def registry_builds(spark):
    """Every registered query built once per session, kept as strings only:
    ``{name: (executed-plan text, [complex-typed output column names])}``.
    Building a query can launch eager jobs, so the registry-wide checks
    share one build instead of each building all of it again."""
    from etl_entregas_pyspark_spark import queries as q

    builds = {}
    for name, spec in q.REGISTRY.items():
        df = spec.spark(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        complex_cols = [f.name for f in df.schema.fields if f.dataType.typeName() in ("array", "map", "struct")]
        builds[name] = (plan, complex_cols)
    return builds


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE
